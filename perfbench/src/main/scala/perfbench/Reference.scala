package perfbench

import scala.collection.mutable

/** Plain-Scala reference algorithms, run on the driver over the same
  * generated input the library sees. Node ids are 0 until n.
  */
object Reference {

  private def adjacency(n: Int, src: Array[Int], dst: Array[Int]): Array[Array[Int]] = {
    val deg = new Array[Int](n)
    src.foreach(s => deg(s) += 1)
    val adj = Array.tabulate(n)(i => new Array[Int](deg(i)))
    val fill = new Array[Int](n)
    src.indices.foreach { i => adj(src(i))(fill(src(i))) = dst(i); fill(src(i)) += 1 }
    adj
  }

  /** Strong components by iterative Tarjan; labels are component indexes. */
  def strongComponents(n: Int, src: Array[Int], dst: Array[Int]): Array[Int] = {
    val adj = adjacency(n, src, dst)
    val index = Array.fill(n)(-1)
    val low = new Array[Int](n)
    val onStack = new Array[Boolean](n)
    val comp = Array.fill(n)(-1)
    val stack = mutable.ArrayStack.empty[Int]
    val callNode = new Array[Int](n)
    val callEdge = new Array[Int](n)
    var counter = 0
    var comps = 0
    for (root <- 0 until n if index(root) < 0) {
      var depth = 0
      callNode(0) = root; callEdge(0) = 0
      index(root) = counter; low(root) = counter; counter += 1
      stack.push(root); onStack(root) = true
      while (depth >= 0) {
        val v = callNode(depth)
        if (callEdge(depth) < adj(v).length) {
          val w = adj(v)(callEdge(depth))
          callEdge(depth) += 1
          if (index(w) < 0) {
            index(w) = counter; low(w) = counter; counter += 1
            stack.push(w); onStack(w) = true
            depth += 1; callNode(depth) = w; callEdge(depth) = 0
          } else if (onStack(w)) low(v) = math.min(low(v), index(w))
        } else {
          if (low(v) == index(v)) {
            var w = -1
            while (w != v) { w = stack.pop(); onStack(w) = false; comp(w) = comps }
            comps += 1
          }
          depth -= 1
          if (depth >= 0) { val u = callNode(depth); low(u) = math.min(low(u), low(v)) }
        }
      }
    }
    comp
  }

  /** Whether two labelings induce the same partition of the nodes. */
  def samePartition(a: Array[Int], b: Array[Int]): Boolean = {
    val ab = mutable.Map.empty[Int, Int]
    val ba = mutable.Map.empty[Int, Int]
    a.indices.forall { i =>
      ab.getOrElseUpdate(a(i), b(i)) == b(i) && ba.getOrElseUpdate(b(i), a(i)) == a(i)
    }
  }
}
