package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, Similarity}

/** Plan inspection: prints formatted physical plans for the load-bearing
  * operators so the shuffle/broadcast/pushdown story can be audited
  * (and stage timings for the remaining slow queries).
  */
object Plans {
  def t(label: String)(f: => Long): Unit = {
    val t0 = System.nanoTime()
    val n = f
    println(f"[plan] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  rows=$n")
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val what = if (args.length > 1) args(1) else "all"
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    if (what == "r16jp") {
      // stage dissection of jaccardPrefixPairs (round-16 optimization):
      // replicate the operator's internals with a timed count per stage
      import org.apache.spark.sql.expressions.Window
      import graft.functions.TextAnalysis
      import org.apache.spark.sql.graftext.CappedCheckpoint._
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val tau = 0.5
      val sets = docs.select(col("doc_id").as("id"),
          TextAnalysis.shingles(col("text"), 3).as("shs"))
        .withColumn("sz", size(col("shs")))
        .filter(col("sz") > 0)
      t("sets ckpt")({ val c = sets.localCheckpointCapped(); c.count() })
      val setsC = sets.localCheckpointCapped()
      val sh = setsC.select(col("id"), col("sz"), explode(col("shs")).as("shingle"))
      t("sh explode")(sh.count())
      val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      t("dfreq")(dfreq.count())
      val prefix0 = sh.join(dfreq, Seq("shingle"))
        .withColumn("rk",
          row_number().over(Window.partitionBy("id").orderBy("df", "shingle")))
        .filter(col("rk") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
        .select(col("id"), col("shingle"), col("rk"), col("sz"))
      t("prefix ckpt")({ val p = prefix0.localCheckpointCapped(); p.count() })
      val prefix = prefix0.localCheckpointCapped()
      val eps = 1e-9
      val cand = prefix.as("a").join(prefix.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id") &&
            (lit(1.0) + tau) * least(col("a.sz"), col("b.sz")) >=
              lit(tau) * (col("a.sz") + col("b.sz")) - eps &&
            (lit(1.0) + tau) *
              (lit(1) + least(col("a.sz") - col("a.rk"), col("b.sz") - col("b.rk"))) >=
              lit(tau) * (col("a.sz") + col("b.sz")) - eps)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b")).distinct()
      t("cand join+distinct")(cand.count())
      val fin = cand
        .join(setsC.select(col("id").as("id_a"), col("shs").as("sa"),
          col("sz").as("sza")), Seq("id_a"))
        .join(setsC.select(col("id").as("id_b"), col("shs").as("sb"),
          col("sz").as("szb")), Seq("id_b"))
        .withColumn("inter", size(array_intersect(col("sa"), col("sb"))).cast("long"))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (col("sza") + col("szb") - col("inter")).cast("double"))
        .filter(col("jaccard") >= tau)
        .select(col("id_a"), col("id_b"), col("jaccard"))
      t("verify")(fin.count())
    }
    if (what == "r16dc") {
      // stage dissection of tfidfCosinePairs (round-16): raw 1-split scan
      // vs id-spread input, same JVM
      import graft.functions.TextAnalysis
      import org.apache.spark.sql.graftext.CappedCheckpoint._
      for (arm <- Seq("raw", "p2", "p4", "p8", "p16", "spread")) {
        val docs0 = spark.read.parquet(s"$dir/documents.parquet")
        val docs = arm match {
          case "raw" => docs0
          case "spread" => docs0.repartition(32, col("doc_id"))
          case p => docs0.repartition(p.drop(1).toInt, col("doc_id"))
        }
        val tf = docs.select(col("doc_id"), explode(
            TextAnalysis.allShingles(col("text"), 3)).as("token"))
          .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        t(s"$arm tf")(tf.count())
        val dfreq = tf.groupBy("token").agg(count(lit(1)).as("df"))
          .filter(col("df") <= 20)
        t(s"$arm dfreq")(dfreq.count())
        val post0 = tf.join(dfreq, Seq("token"))
          .withColumn("wq", expr("(tf * 1000000L) div df"))
          .select("token", "doc_id", "wq")
        t(s"$arm post ckpt")({ val p = post0.localCheckpointCapped(); p.count() })
        val post = post0.localCheckpointCapped()
        val a = post.select(col("token"), col("doc_id").as("doc_a"), col("wq").as("wa"))
        val b = post.select(col("token"), col("doc_id").as("doc_b"), col("wq").as("wb"))
        val dots = a.join(b, Seq("token")).filter(col("doc_a") < col("doc_b"))
          .groupBy("doc_a", "doc_b")
          .agg(sum(expr("CAST(wa AS DECIMAL(38,0)) * wb")).as("dot"))
        t(s"$arm dots")(dots.count())
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
      }
    }
    if (what == "r16scc") {
      // doublingAfter A/B for the distributed SCC fixpoint (round-16):
      // the result is the same SCC fixpoint at any setting; only round
      // counts and per-round shapes change
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val n = cust.count()
      val nodes = cust.select(col("c_custkey").as("id"))
      val edges = spark.read.parquet(s"$dir/orders.parquet")
        .filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey").as("source"),
          (col("o_orderkey") % n).as("target"))
      val g = graft.NetworkFrame(nodes, edges)
      for (da <- args.drop(2).headOption.map(_.split(",").map(_.toInt).toSeq)
             .getOrElse(Seq(24, 12, 8))) {
        t(s"scc doublingAfter=$da")(
          graft.GraphAlgorithms.sccFixpoint(g, da).count())
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
      }
    }
    if (what == "all" || what == "ivf") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = Similarity.ivfTopK(emb, "vec_id", "embedding", "label", 3)
      println("==== ivfTopK plan ====")
      q.explain("formatted")
      t("ivfTopK")(q.count())
    }
    if (what == "ivf2") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      import graft.functions.{LongDot, Similarity}
      LongDot.register(spark)
      val b = emb.select(col("vec_id").as("id"), Similarity.quantize(col("embedding")).as("qv"),
          col("label").as("cell"))
        .withColumn("n2", Similarity.dotLong(col("qv"), col("qv")))
      t("quantized table")(b.count())
      val scored = b.as("q").join(b.as("c"),
          col("q.cell") === col("c.cell") && col("q.id") =!= col("c.id"))
        .select(col("q.id").as("query_id"),
          (Similarity.dotLong(col("q.qv"), col("c.qv")).cast("double") /
            (sqrt(col("q.n2").cast("double")) * sqrt(col("c.n2").cast("double")))).as("sim"))
      t("scored pairs")(scored.count())
      t("scored agg max")(scored.groupBy("query_id").agg(max("sim")).count())
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("query_id").orderBy(desc("sim"))
      t("windowed")(scored.withColumn("r", row_number().over(w)).filter(col("r") <= 3).count())
    }
    if (what == "all" || what == "mh") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text")
      println("==== minhashLshPairs plan ====")
      p.explain("formatted")
      t("minhashLshPairs")(p.count())
    }
    if (what == "sort") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      println("==== orderBy().count() plan (is the Sort eliminated?) ====")
      val q = docs.select(col("doc_id"), col("lang")).orderBy("doc_id", "lang")
      q.groupBy().count().explain("formatted")
      val p2 = Dedup.minhashLshPairs(docs, "doc_id", "text").orderBy("id_a", "id_b")
      t("mh pairs orderBy+count")(p2.count())
    }
    if (what == "all" || what == "neardup") {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val q = Similarity.cosineNearDupPairs(emb, "vec_id", "embedding", 0.4, 16, 4)
      println("==== cosineNearDupPairs (banded sign-LSH) plan — expect NO nested-loop join ====")
      q.explain("formatted")
      t("cosineNearDupPairs")(q.count())
    }
    if (what == "all" || what == "ngram") {
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val q = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.0, maxDf = 20)
      println("==== ngramJaccardPairs (maxDf=20) plan ====")
      q.explain("formatted")
      t("ngramJaccardPairs df20")(q.count())
    }
    if (what == "all" || what == "enrich") {
      val g = graft.NetworkFrame(
        spark.read.parquet(s"$dir/customer.parquet")
          .select(col("c_custkey").as("id"), col("c_mktsegment")),
        spark.read.parquet(s"$dir/orders.parquet")
          .select(col("o_custkey").as("source"), (col("o_orderkey") % 15000).as("target"),
            col("o_totalprice").as("weight")))
      println("==== applyNodeFeatures plan (expect BroadcastHashJoin) ====")
      g.applyNodeFeatures(Seq("c_mktsegment"), "both").edges.explain("formatted")
      println("==== queryNodes induction plan (expect semi joins, pushed filters) ====")
      g.queryNodes("c_mktsegment = 'MACHINERY'").edges.explain("formatted")
    }
    if (what == "all" || what == "asof") {
      val ev = graft.streaming.EventStream.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet"))
      val q = graft.operators.AsOfJoin.asofBackward(
        ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts"),
        ev.filter(col("event_type") === "purchase"),
        Seq("user_id"), "ts", "ts", Seq("value"), Some("event_id"))
      println("==== asofBackward plan (expect ONE exchange on user_id, no join) ====")
      q.explain("formatted")
      t("asofBackward")(q.count())
    }
    if (what == "r4") {
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val bp = graft.GraphAlgorithms.bipartiteProject(
        li.select(col("l_orderkey"), col("l_partkey")), "l_orderkey", "l_partkey")
      println("==== bipartiteProject plan — expect window cap + equi join, no nested loop ====")
      bp.explain("formatted")
      t("bipartiteProject")(bp.count())

      val ev = graft.streaming.EventStream.normalizeTs(
        spark.read.parquet(s"$dir/events.parquet"))
      val sess = graft.streaming.EventStream.sessionize(ev, "30 minutes")
        .select(col("user_id"), col("t_start"), col("t_end"))
      val pii = graft.operators.RangeJoin.pointInInterval(
        ev.filter(col("event_type") === "error").select(col("user_id"), col("ts")),
        "ts", sess, "t_start", "t_end", Seq("user_id"), 3600)
      println("==== pointInInterval plan — expect equi join on (user, bucket), NO BroadcastNestedLoopJoin ====")
      pii.explain("formatted")
      t("pointInInterval")(pii.count())

      val rl = graft.streaming.EventStream.rateLimit(ev, "user_id", 2)
      println("==== rateLimit plan — expect WindowGroupLimit below the exchange ====")
      rl.explain("formatted")
      t("rateLimit")(rl.count())

      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val tc = graft.functions.TextAnalysis.tfidfCosinePairs(
        docs, "doc_id", "text", 20, 100000, 3)
      println("==== tfidfCosinePairs plan — expect inverted-index equi join, no nested loop ====")
      tc.explain("formatted")
      t("tfidfCosinePairs")(tc.count())

      val an = graft.streaming.EventStream.hourlyAnomalies(ev, 20000)
      println("==== hourlyAnomalies plan — expect BroadcastHashJoin of the moments ====")
      an.explain("formatted")
      t("hourlyAnomalies")(an.count())
    }
    if (what == "r7") {
      val cust = spark.read.parquet(s"$dir/customer.parquet")
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val nodes = cust.select(col("c_custkey").as("id"))
      val edges = ord.filter(col("o_orderkey") % 10 === 0)
        .select(col("o_custkey").as("source"),
          (col("o_orderkey") % cust.count()).as("target"))
      val g = graft.NetworkFrame(nodes, edges)
      val anf = graft.GraphAlgorithms.neighborhoodFunction(g, 3, 8)
      println("==== neighborhoodFunction plan — expect per-round join + partial min-agg (map-side combine), no window ====")
      anf.explain("formatted")
      t("neighborhoodFunction")(anf.count())

      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val pq = Similarity.ivfPqSearch(emb, "vec_id", "embedding", "label", 8, 64, 3, 2)
      println("==== ivfPqSearch plan — expect broadcast codebook row, one fine join keyed on the probed cell with in-row LUT scoring, no code-keyed join, no cartesian ====")
      pq.explain("formatted")
      t("ivfPqSearch")(pq.count())
    }
    spark.stop()
  }
}
