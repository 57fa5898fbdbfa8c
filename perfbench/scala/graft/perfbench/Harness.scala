package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import org.json4s.DefaultFormats
import org.json4s.jackson.Serialization
import scala.jdk.CollectionConverters._

/** One benchmark JVM:
  *
  *   Harness setup|run|traced <workload> <seed> <workDir> <n> <result.json>
  *
  * It starts a local session at the machine's parallelism, then by mode:
  *
  *  - `setup`: writes the workload's inputs from the seed `n` times,
  *    timing each write, and leaves the last under `<workDir>/in`;
  *  - `run` (untraced): runs the workload's experiment on those inputs
  *    through the CLI's public surface, `Experiment.run` on its YAML
  *    config, once, cold, and again (warm) while less than `n` seconds
  *    have passed since the first began;
  *  - `traced`: runs the experiment once, cold, re-orchestrated with a
  *    span around each module call ([[Traced]], [[Tracer]]).
  *
  * Inputs are written in their own JVM, so `run` and `traced` start no
  * Spark job before their experiment: both begin from the same cold
  * state. The result file is written after `spark.stop()`, as the JVM's
  * last action, so no Spark thread can interleave with it. Between
  * repetitions the session's cache is dropped, so every repetition
  * recomputes all of its work. */
object Harness {

  /** One timed part of a repetition. */
  final case class Part(runS: Double, cpuS: Double, fields: Map[String, Any])

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("gen", dir, pairs @ _*) =>
      // inputs only, for the self-test: gen <dir> <workload> <seed> ...
      val spark = session(Paths.get(dir).toAbsolutePath)
      pairs.grouped(2).zipWithIndex.foreach { case (Seq(workload, seed), i) =>
        Inputs.writers(workload)(spark, seed.toLong, s"$dir/$i-$workload-$seed")
      }
      spark.stop()
    case Seq(mode @ ("setup" | "run" | "traced"), workload, seed, work, n, out) =>
      require(Inputs.writers.contains(workload), s"unknown workload $workload")
      val result = run(mode, workload, seed.toLong, Paths.get(work).toAbsolutePath, n.toDouble)
      Files.writeString(Paths.get(out), Serialization.write(result)(DefaultFormats) + "\n")
    case _ =>
      System.err.println(
        "usage: Harness setup|run|traced <workload> <seed> <workDir> <n> <result.json>\n" +
          "       Harness gen <dir> <workload> <seed> [<workload> <seed> ...]")
      sys.exit(2)
  }

  /** Local session at the machine's parallelism, configured like the
    * CLI's own `Experiment.main`; Spark's scratch stays under `work`. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def processCpuS: Double = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** Peak resident set of this JVM (`VmHWM`), MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }

  private def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def run(mode: String, workload: String, seed: Long, work: Path,
          n: Double): Map[String, Any] = {
    val spark = session(work)
    val ready = uptimeS
    val in = work.resolve("in")
    val genS = Seq.newBuilder[Double]
    val reps = Seq.newBuilder[Map[String, Any]]
    mode match {
      case "setup" =>
        (1 to n.toInt).foreach { _ =>
          deleteTree(in)
          genS += timed(Inputs.writers(workload)(spark, seed, in.toString))._2
        }
      case "traced" =>
        val tracer = new Tracer(spark)
        val exp = experimentPart(spark, config(workload, in, work), Some(tracer))
        reps += exp.fields ++ Map("run_s" -> exp.runS, "cpu_s" -> exp.cpuS,
          "spans" -> tracer.spans, "counts" -> tracer.counts.toMap,
          "labels" -> tracer.labels.toMap)
      case "run" =>
        val cfg = config(workload, in, work)
        val t0 = System.nanoTime()
        do {
          val exp = experimentPart(spark, cfg, None)
          reps += exp.fields ++ Map("run_s" -> exp.runS, "cpu_s" -> exp.cpuS)
          spark.catalog.clearCache()
          System.gc()
        } while ((System.nanoTime() - t0) / 1e9 < n)
    }
    val rss = peakRssMb
    spark.stop()
    Map("mode" -> mode, "workload" -> workload, "seed" -> seed,
      "session_ready_s" -> ready, "gen_s" -> genS.result(), "peak_rss_mb" -> rss,
      "reps" -> reps.result(),
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
  }

  /** The workload's experiment config with its input directory filled in. */
  def config(workload: String, in: Path, work: Path): String = {
    val configDir = sys.props.getOrElse("perfbench.configs", "perfbench/configs")
    val text = Files.readString(Paths.get(configDir, s"$workload.yml"))
      .replace("@DIR@", in.toString)
    val p = work.resolve(s"$workload.yml")
    Files.writeString(p, text)
    p.toString
  }

  /** Short metric key for a report row's model name. */
  def modelKey(name: String): String =
    if (name.startsWith("Node2Vec")) "node2vec"
    else if (name.toLowerCase.contains("transe")) "transE"
    else name

  /** One `Experiment.run` (or its traced re-orchestration): wall and
    * process CPU, and per model the report's mean fold time, MAP@5 and
    * nDCG@5. */
  def experimentPart(spark: SparkSession, cfg: String, tracer: Option[Tracer]): Part = {
    val c0 = processCpuS
    val (rows, runS) = timed(tracer.fold(graft.cli.Experiment.run(spark, cfg).collect().toSeq)(
      Traced.experiment(spark, cfg, _)))
    val models = rows.map { r =>
      modelKey(r.getAs[String]("model")) -> Map(
        "fold_s" -> r.getAs[Double]("execution_time_mean"),
        "map_at_5" -> r.getAs[Double]("MAP@5_mean"),
        "ndcg_at_5" -> r.getAs[Double]("nDCG@5_mean"),
        "folds" -> r.schema.fieldNames.count(_.endsWith("_execution_time")))
    }.toMap
    Part(runS, processCpuS - c0, Map("models" -> models))
  }
}
