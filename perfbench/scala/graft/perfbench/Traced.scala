package graft.perfbench

import graft.cli.Experiment
import graft.eval.Metrics
import graft.knn.CosineKnn
import graft.model.Recommenders
import graft.prep.{KCoreCaches, Preprocess}
import graft.report.Reporter
import graft.split.EdgeSplits
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.yaml.snakeyaml.Yaml
import scala.jdk.CollectionConverters._

/** The experiment CLI's steps, re-orchestrated from the module calls
  * `Experiment.run` makes, with a span around each: schema
  * (`Experiment.loadDataset`), prep (`Preprocess.filterKCore`), split
  * (`EdgeSplits`), walk / kge (`Recommender.train`), knn
  * (`Recommender.recommend` → `CosineKnn.topK`) and eval
  * (`Metrics.meansAtK`). Covers the config surface the benchmark's
  * workloads use. The traced run does the CLI's work and caches the
  * same frames; where the CLI materializes a cache at its first use,
  * the traced run materializes it at the boundary of the layer that
  * builds it. Frames the CLI leaves uncached (the CSV load under a
  * k-core, a ratio split) are computed lazily by the layer that first
  * consumes them, as in the CLI, and their cost lands there. Work
  * counts are taken outside every span, after each fold: their jobs
  * are part of the unattributed remainder and run after the layers
  * they describe, so they warm none of them. */
object Traced {

  type Cfg = java.util.Map[String, Object]
  private def sub(m: Cfg, k: String): Cfg = m.get(k).asInstanceOf[Cfg]
  private def get(m: Cfg, k: String, d: String): String =
    Option(m).flatMap(x => Option(x.get(k))).map(_.toString).getOrElse(d)
  private def list(m: Cfg, k: String): Seq[Cfg] =
    Option(m.get(k)).map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq
      .map(_.asInstanceOf[Cfg])).getOrElse(Seq.empty)

  /** Published dispatch gates, as the modules compute them. */
  val FusedMinPairs = 4000000L
  val DriverMaxParams = 50000000L
  val SgnsMaxTokens = 100000000L

  def experiment(spark: SparkSession, configPath: String, t: Tracer): Seq[Row] = {
    val root = new Yaml().load(new java.io.FileInputStream(configPath)).asInstanceOf[Cfg]
    val exp = sub(root, "experiment")

    val preprocess = list(exp, "preprocess")
    val bundle = t.span("schema", "loadDataset") {
      val b = Experiment.loadDataset(spark, sub(exp, "dataset"))
      // without preprocessing the CLI caches the loaded ratings and
      // fills that cache at their first use
      if (preprocess.isEmpty) t.count("schema.rows", b.ratings.cache().count().toDouble)
      b
    }
    // under a k-core the CLI caches only its output: count the load
    // outside every span, the k-core then reads the CSV itself
    if (preprocess.nonEmpty) t.count("schema.rows", bundle.ratings.count().toDouble)
    var ratings = bundle.ratings
    for (p <- preprocess) {
      val params = sub(p, "parameters")
      require(get(p, "method", "") == "filter_kcore", s"traced path: unsupported ${p.get("method")}")
      t.span("prep", "filterKCore") {
        val caches = new KCoreCaches
        ratings = Preprocess.filterKCore(ratings, get(params, "k", "2").toInt,
          get(params, "target", "user"), get(params, "iterations", "1").toInt, caches).cache()
        val kept = ratings.count()
        caches.release()
        t.count("prep.kept_ratio", kept / t.counts("schema.rows"))
      }
    }
    ratings = ratings.cache()

    val split = sub(exp, "split")
    val seed = get(split, "seed", "42").toLong
    val test = sub(split, "test")
    val splitCaches = scala.collection.mutable.Buffer.empty[DataFrame]
    val folds: Seq[(DataFrame, DataFrame)] = t.span("split", get(test, "method", "")) {
      get(test, "method", "") match {
        case "k_fold" =>
          val k = get(test, "k", "2").toInt
          val assigned = EdgeSplits.kFoldRandom(ratings, k, get(test, "level", "user"), seed).cache()
          assigned.count()
          splitCaches += assigned
          (1 to k).map(i => (assigned.filter(col("fold") =!= i).drop("fold"),
            assigned.filter(col("fold") === i).drop("fold")))
        case m @ ("random_by_ratio" | "timestamp_by_ratio") =>
          val (p, level) = (get(test, "p", "0.2").toDouble, get(test, "level", "user"))
          val a = if (m == "random_by_ratio") EdgeSplits.randomByRatio(ratings, p, level, seed)
                  else EdgeSplits.timestampByRatio(ratings, p, level)
          Seq((a.filter(!col("is_test")).drop("is_test"), a.filter(col("is_test")).drop("is_test")))
        case other => sys.error(s"traced path: unsupported split $other")
      }
    }

    val eval = sub(exp, "evaluation")
    val k = get(eval, "k", "5").toInt
    val relThr = get(eval, "relevance_threshold", "3.0").toDouble
    val metricNames = Option(eval.get("metrics"))
      .map(_.asInstanceOf[java.util.List[Object]].asScala.toSeq.map(_.toString)).getOrElse(Seq("MAP"))

    val rows = for {
      m <- list(exp, "models")
      modelName = get(m, "name", "")
      cfgMap = Option(sub(m, "parameters")).map(_.asScala.map { case (kk, v) => kk -> v.toString }.toMap)
        .getOrElse(Map.empty[String, String])
      ((train, testDf), foldIdx) <- folds.zipWithIndex
    } yield {
      val layer = if (modelName == "node2vec") "walk" else "kge"
      val t0 = System.nanoTime()
      val rec = t.span(layer, s"$modelName.train") {
        Recommenders.registry(modelName)(cfgMap)
          .train(spark, train, bundle.propertyEdges, bundle.socialEdges)
      }
      val recs = t.span("knn", s"$modelName.recommend") {
        val r = rec.recommend(k).persist(StorageLevel.MEMORY_AND_DISK)
        t.labels(s"knn.kernel.$modelName") = CosineKnn.lastKernel
        t.count("knn.emitted", r.count().toDouble)
        r
      }
      val mm = t.span("eval", s"$modelName.meansAtK") {
        Metrics.meansAtK(recs, testDf, k, relThr).first()
      }
      val vals = metricNames.map {
        case "MAP" => "MAP" -> mm.getDouble(mm.fieldIndex("map"))
        case "nDCG" => "nDCG" -> mm.getDouble(mm.fieldIndex("ndcg"))
      }
      recs.unpersist(blocking = false)
      rec.release()
      val secs = (System.nanoTime() - t0) / 1e9
      workCounts(t, layer, modelName, cfgMap, train, testDf, bundle.propertyEdges, k)
      (rec.name, foldIdx + 1, vals, secs)
    }
    ratings.unpersist(blocking = false)
    splitCaches.foreach(_.unpersist(blocking = false))

    import spark.implicits._
    val reports = metricNames.map { mn =>
      Reporter.foldPivot(rows.map { case (model, fold, vals, _) => (model, fold, vals.toMap.apply(mn)) }
        .toDF("model", "fold", "value"), folds.size, s"$mn@$k")
    }
    val times = Reporter.foldPivot(rows.map { case (model, fold, _, secs) => (model, fold, secs) }
      .toDF("model", "fold", "value"), folds.size, "execution_time")
    (reports :+ times).reduce((a, b) => a.join(b, Seq("model"))).collect().toSeq
  }

  /** Per-fold work counts and the gate side each trainer takes, from
    * the same quantities the modules' dispatch reads. Runs after the
    * fold's spans close, so its jobs fall in the unattributed remainder. */
  private def workCounts(t: Tracer, layer: String, model: String, cfg: Map[String, String],
                         train: DataFrame, test: DataFrame, props: Option[DataFrame],
                         k: Int): Unit = {
    val s = train.agg(countDistinct("user_id"), countDistinct("item_id"), count(lit(1))).first()
    val (users, items, n) = (s.getLong(0), s.getLong(1), s.getLong(2))
    val maxRated = train.groupBy("user_id").count().agg(max("count")).first().getLong(0)
    val kPrime = math.min(maxRated + k, items)
    t.count("knn.pairs_scored", users.toDouble * items)
    t.count("knn.slots", users.toDouble * kPrime)
    t.count("eval.users", test.select("user_id").distinct().count().toDouble)
    t.labels(s"knn.gate.$model") =
      if (users * items < FusedMinPairs) "relational" else "fused"
    if (layer == "walk") {
      val nodes = users + items +
        props.map(_.select("dst_label").distinct().count()).getOrElse(0L)
      val tokens = nodes * cfg.getOrElse("n_walks", "10").toLong * cfg.getOrElse("walk_len", "10").toLong
      t.count("walk.tokens", tokens.toDouble)
      t.labels(s"walk.gate.$model") =
        if (2L * nodes * cfg.getOrElse("embedding_size", "64").toLong <= DriverMaxParams &&
          tokens <= SgnsMaxTokens) "local" else "distributed"
    } else {
      t.count("kge.triples", n.toDouble)
      val params = (users + items + 1) * cfg.getOrElse("embedding_dim", "50").toLong
      t.labels(s"kge.gate.$model") = if (params <= DriverMaxParams) "driver" else "distributed"
    }
  }
}
