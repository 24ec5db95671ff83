package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Internals

import graft.{GraftSession, SparkEntry}

/** Runs one workload's query keys the way `graft.Bench` runs them
  * (`executedPlan.execute().count()`), in one JVM, and writes a JSON
  * record of what happened for `perfbench/run.py` to score.
  *
  * Arguments are `name=value` pairs:
  *  - dir: generated input directory; keys: comma-separated keys
  *  - cores: local[cores] and shuffle partitions; seconds: timed budget
  *    (passes continue until it is spent, and there are at least three)
  *  - warmup: untimed passes of the timed path before the first timed one
  *  - trace: 1 attaches the listeners, alternates untraced and traced
  *    passes, records spans and runs the layer probes
  *  - work: scratch directory (dumps, spans, probe output)
  *  - probes: comma-separated subset of xml,kernels,occ
  *  - run_id: the run id every span carries
  *
  * Before the timed passes, one untimed pass writes every key's result
  * to work/dump/<key> (parquet) together with oracle_sql.json, so the
  * caller can check it against DuckDB; then `warmup` untimed passes run
  * every key the way the timed passes do. */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not name=value")
      a.substring(0, i) -> a.substring(i + 1)
    }.toMap
    val dir = opt("dir")
    val work = opt("work")
    val cores = opt("cores").toInt
    val seconds = opt("seconds").toDouble
    val warmup = opt("warmup").toInt
    val trace = opt.get("trace").contains("1")
    val keys = opt("keys").split(",").toSeq.filter(_.nonEmpty)
    val probeSet = opt.getOrElse("probes", "").split(",").filter(_.nonEmpty).toSet
    val registry = SparkEntry.queries
    val unknown = keys.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(",")}")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("graftbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val progress = new ProgressRecorder
    spark.streams.addListener(progress)
    val readyS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // untimed pass: fixtures, codegen, and the outputs the oracle checks
    val dump = s"$work/dump"
    val setupKeys = ListMap.from(keys.map { k =>
      val t0 = System.nanoTime()
      val res = try {
        registry(k)(spark, dir).write.mode("overwrite").parquet(s"$dump/$k")
        Map("ok" -> true)
      } catch {
        case e: Exception => Map("ok" -> false, "error" -> describe(e))
      }
      k -> (res + ("s" -> (System.nanoTime() - t0) / 1e9))
    })
    java.nio.file.Files.writeString(new File(s"$dump/oracle_sql.json").toPath,
      Json.write(keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
    // untimed passes of the timed path, so the timed passes do not
    // carry the JIT and codegen warm-up of the execute().count() route
    for (_ <- 0 until warmup; k <- keys) {
      try registry(k)(spark, dir).queryExecution.executedPlan.execute().count()
      catch { case _: Exception => () } // reported by the timed passes
    }
    Internals.drainListenerBus(sc)
    progress.take()
    System.gc()
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val tracer = new Tracer(opt.getOrElse("run_id", "run"))
    val layers = new LayerRecorder
    val scans = new ScanCounter
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val budgetNs = (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    // at least three passes, so every run reports a median of the same
    // kind; traced runs alternate untraced and traced passes so the
    // tracing overhead is measured in the same JVM
    def morePasses: Boolean = passes.length < 3 || System.nanoTime() - t0 < budgetNs
    while (morePasses) {
      val traced = trace && passes.length % 2 == 1
      if (traced) {
        sc.addSparkListener(layers)
        spark.listenerManager.register(scans)
      }
      Internals.drainListenerBus(sc)
      layers.take(); scans.take(); progress.take()
      val startMs = System.currentTimeMillis()
      val p0 = System.nanoTime()
      def runKey(k: String): Map[String, Any] = {
        val k0 = System.nanoTime()
        val res = try {
          val plan = registry(k)(spark, dir).queryExecution.executedPlan
          val rows = plan.execute().count()
          if (traced) scans.add(ScanCounter.count(plan))
          Map("ok" -> true, "rows" -> rows)
        } catch {
          case e: Exception => Map("ok" -> false, "error" -> describe(e))
        }
        res + ("s" -> (System.nanoTime() - k0) / 1e9)
      }
      val keyRes =
        if (traced) tracer.span("pass", Map("index" -> passes.length)) {
          ListMap.from(keys.map(k => k -> tracer.span(s"key:$k")(runKey(k))))
        }
        else ListMap.from(keys.map(k => k -> runKey(k)))
      val wallS = (System.nanoTime() - p0) / 1e9
      val endMs = System.currentTimeMillis()
      Internals.drainListenerBus(sc)
      val rec = mutable.LinkedHashMap[String, Any](
        "traced" -> traced, "wall_s" -> wallS, "start_ms" -> startMs, "end_ms" -> endMs,
        "keys" -> keyRes, "progress" -> progress.take())
      if (traced) {
        sc.removeSparkListener(layers)
        spark.listenerManager.unregister(scans)
        rec("layers") = layers.take()
        rec("parquet_scans") = scans.take()
        rec("staging") = Staging.stats(sys.props("java.io.tmpdir"), startMs)
      }
      System.gc()
      rec("heap_old_mb") = oldGenUsedMb()
      passes += rec.toMap
    }

    val probes = mutable.LinkedHashMap.empty[String, Any]
    if (trace) {
      val pr = new Probes(spark, dir, tracer, s"$work/probe", cores)
      if (probeSet("xml")) probes ++= pr.xml()
      if (probeSet("kernels")) probes ++= pr.kernels()
      if (probeSet("occ")) probes ++= pr.occ()
      tracer.write(s"$work/spans.jsonl")
    }

    val result = Map(
      "cores" -> cores, "ready_s" -> readyS, "setup_s" -> setupS, "setup_keys" -> setupKeys,
      "passes" -> passes.toList, "probes" -> probes.toMap,
      "staging" -> Staging.stats(sys.props("java.io.tmpdir"), Long.MaxValue))
    java.nio.file.Files.writeString(new File(s"$work/result.json").toPath, Json.write(result))
    spark.stop()
    System.exit(0)
  }

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}"

  /** Old-generation occupancy after the collection the caller just ran. */
  private def oldGenUsedMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
}

/** Files and bytes the engine keeps under its staging root: the
  * `graft_*` entries of `java.io.tmpdir`. */
object Staging {
  def stats(root: String, sinceMs: Long): Map[String, Any] = {
    var files = 0L; var bytes = 0L; var newFiles = 0L; var newBytes = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      else {
        files += 1; bytes += f.length
        if (f.lastModified >= sinceMs) { newFiles += 1; newBytes += f.length }
      }
    Option(new File(root).listFiles).foreach(_.filter(_.getName.startsWith("graft_")).foreach(walk))
    Map("files" -> files, "bytes" -> bytes, "new_files" -> newFiles, "new_bytes" -> newBytes)
  }
}
