package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark pass in one JVM: set up a `local[N]` session several times
  * (the last one is kept), then run the given queries one at a time in the
  * given order, timing each from the `SparkEntry.queries(name)(spark, dir)`
  * call until its full result has been written to a parquet sink under the
  * output directory. Results are checked afterwards by `perfbench/run.py`.
  *
  * With `--trace 1` the pass is recorded by [[Tracer]] (Spark's public
  * listeners, attached from here) and the spans are written to `--spans`.
  *
  * Usage:
  * {{{
  * perfbench.Runner --data DIR --tiny DIR --out DIR --result FILE
  *   --queries q_a,q_b,... --warm step,... [--setups 3] [--cores N]
  *   [--trace 0|1] [--spans FILE] [--plans q_a,...] [--scale-from DIR]
  * }}}
  * `--scale-from SRC` first synthesizes `--data` as a 10x copy of SRC with
  * `graft.ScaleData` (skipped when the tree is already complete), outside
  * the timed set-up.
  */
object Runner {

  final case class Timing(name: String, start: Double, buildEnd: Double,
      end: Double, ok: Boolean, error: String, compiles: Long)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = opts("data")
    val tiny = opts("tiny")
    val out = opts("out")
    val names = opts("queries").split(",").toSeq.filter(_.nonEmpty)
    val setups = opts.getOrElse("setups", "3").toInt
    val cores = opts.getOrElse("cores", Runtime.getRuntime.availableProcessors().toString).toInt
    val trace = opts.getOrElse("trace", "0") == "1"
    val warmNames = opts("warm").split(",").toSeq.filter(_.nonEmpty)
    require(warmNames.forall(warmSteps.contains), s"unknown warm-up step in ${warmNames.mkString(",")}")
    val planNames = opts.get("plans").map(_.split(",").toSet).getOrElse(Set.empty)

    val unknown = names.filterNot(graft.SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")

    opts.get("scale-from").foreach { src =>
      val spark = session(cores)
      graft.ScaleData.synthesize(spark, src, data, factor = 10)
      spark.stop()
    }

    // set-up: session start, table registration and graft.Bench's warm-up,
    // repeated so the reported figure is a median, not one cold sample. The
    // first set-up also pays the JVM's class loading and JIT warm-up; before
    // each later one the JVM-wide caches a set-up fills are emptied, so every
    // set-up repeats its schema reads and warm-up code generation.
    var spark: SparkSession = null
    val setupSecs = (1 to setups).map { i =>
      if (spark != null) {
        spark.stop()
        forgetJvmCaches()
      }
      val t0 = System.nanoTime()
      spark = session(cores)
      val steps = warmUp(spark, data, tiny, warmNames)
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[runner] set-up $i: $secs%.3f s (" +
        steps.map { case (k, v) => f"$k $v%.2f" }.mkString(", ") + ")")
      secs
    }
    val setupCachedBytes = cachedBytes(spark)

    val tracer = if (trace) Some(Tracer.attach(spark, planNames)) else None
    val queries = graft.SparkEntry.queries
    val timings = mutable.ArrayBuffer.empty[Timing]
    val passStart = Clock.nowMs()
    for (name <- names) {
      val c0 = compileCount()
      val t0 = Clock.nowMs()
      tracer.foreach(_.beginQuery(name))
      var t1 = Double.NaN
      val err = try {
        val df = queries(name)(spark, data)
        t1 = Clock.nowMs()
        tracer.foreach(_.built(df))
        df.write.mode("overwrite").parquet(s"$out/$name")
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}" }
      val t2 = Clock.nowMs()
      if (t1.isNaN) t1 = t2
      timings += Timing(name, t0, t1, t2, err.isEmpty, err, compileCount() - c0)
      tracer.foreach(_.endQuery(spark))
    }
    val passEnd = Clock.nowMs()
    val endCachedBytes = cachedBytes(spark)

    val j = new Json
    j.obj {
      j.field("env") {
        j.obj {
          j.str("nproc", Runtime.getRuntime.availableProcessors().toString)
          j.num("cores", cores)
          j.num("heap_mb", Runtime.getRuntime.maxMemory / 1048576.0)
          j.str("java", System.getProperty("java.version"))
          j.str("spark", spark.version)
          j.str("scala", scala.util.Properties.versionNumberString)
        }
      }
      j.field("setup_s")(j.arr(setupSecs)(v => j.num(v)))
      j.num("wall_s", (passEnd - passStart) / 1000.0)
      j.num("peak_rss_mb", peakRssMb())
      j.num("setup_cached_mb", setupCachedBytes / 1048576.0)
      j.num("end_cached_mb", endCachedBytes / 1048576.0)
      j.field("queries") {
        j.arr(timings.toSeq) { t =>
          j.obj {
            j.str("name", t.name)
            j.num("start_ms", t.start)
            j.num("build_end_ms", t.buildEnd)
            j.num("end_ms", t.end)
            j.bool("ok", t.ok)
            j.str("error", t.error)
            j.num("codegen_compiles", t.compiles)
          }
        }
      }
      j.field("oracle") {
        j.objOf(names.flatMap(n => graft.SparkEntry.oracleSql.get(n).map(n -> _))) {
          case (n, sql) => j.str(n, sql)
        }
      }
    }
    Files.write(Paths.get(opts("result")), j.result.getBytes(UTF_8))
    tracer.foreach(t => Files.write(Paths.get(opts("spans")), t.spansJson(timings.toSeq).getBytes(UTF_8)))
    spark.stop()
  }

  /** The session posture of graft.Bench and graft.Verify (the one the oracle
    * gate certifies), with every scratch location kept in the working
    * directory. */
  def session(cores: Int): SparkSession = {
    val work = Paths.get("").toAbsolutePath.toString
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Set-up steps: table registration (each table's relation resolved,
    * which lists its files and reads its footers), then parts of
    * graft.Bench's warm-up: first-touch codegen of the CEP family and of the
    * stateful streaming families on the tiny tree, the LSH signature
    * queries, and the session-scoped materialized stores on the measured
    * tree. `batch-sink` and `stream-sink` take one query of the workload
    * through the timed path itself (build, then the parquet sink write) on
    * the measured tree: a join and aggregate for the batch workload, a
    * transformWithState stream on RocksDB state for the streaming one. The
    * class loading and JIT of that path then happen in set-up, instead of
    * slowing whichever timed queries a seed runs first. */
  val warmSteps: Seq[String] =
    Seq("tables", "cep", "batch-sink", "stream-sink", "lsh", "stream", "stores")

  /** Runs the named warm-up steps; returns each step's seconds. */
  def warmUp(spark: SparkSession, data: String, tiny: String,
      names: Seq[String]): Seq[(String, Double)] = {
    val queries = graft.SparkEntry.queries
    val warmOut = Paths.get("warm").toAbsolutePath.toString
    def warm(dir: String, qs: String*): Unit = qs.foreach(queries(_)(spark, dir).count())
    def sink(dir: String, qs: String*): Unit = qs.foreach { q =>
      queries(q)(spark, dir).write.mode("overwrite").parquet(s"$warmOut/$q")
    }
    names.map { name =>
      val t0 = System.nanoTime()
      // a failing warm-up step is logged; the query itself is still timed
      // and checked, so a defect shows up as a named failure of the pass
      try name match {
        case "tables" => graft.Tables.names.foreach(graft.Tables.t(spark, data, _))
        case "cep" => warm(tiny, "q_cep_next", "q_match_recognize_seq")
        case "batch-sink" => sink(data, "q_tpch_q3")
        case "stream-sink" => sink(data, "q_tws_changelog_topn")
        case "lsh" => warm(data, "q_simhash", "q_minhash_lsh")
        case "stream" => warm(tiny, "q_stream_outer_join", "q_changelog_join",
          "q_stream_over", "q_stream_session", "q_session_dynamic_stream",
          "q_dedup_sql_last")
        case "stores" => graft.perfbench.Stores.warm(spark, data)
      } catch {
        case e: Throwable => System.err.println(s"[runner] warm-up $name failed: $e")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
  }

  /** Empties the JVM-wide caches a set-up fills: Spark's compiled-class
    * cache (keyed by generated source, so a new session reuses it) and the
    * engine's memoized table schemas. Both are private, hence reflection. */
  def forgetJvmCaches(): Unit = {
    val codegen = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    val cacheField = codegen.getClass.getDeclaredMethod("cache")
    cacheField.setAccessible(true)
    val cache = cacheField.invoke(codegen)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val schemas = graft.Tables.getClass.getDeclaredField("schemaCache")
    schemas.setAccessible(true)
    schemas.get(graft.Tables).asInstanceOf[java.util.Map[_, _]].clear()
  }

  def compileCount(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def cachedBytes(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => (i.memSize + i.diskSize).toDouble).sum

  /** Peak resident set of this JVM (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

/** Epoch milliseconds with sub-millisecond resolution, on the same scale as
  * the timestamps Spark's listener events carry. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A minimal JSON writer (the runner's output is small and flat). */
final class Json {
  private val sb = new StringBuilder
  private var first = true
  private def sep(): Unit = { if (!first) sb += ','; first = false }
  private def key(k: String): Unit = { sep(); quote(k); sb += ':'; first = true }
  def quote(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  def obj(body: => Unit): Unit = { sep(); sb += '{'; first = true; body; sb += '}'; first = false }
  def objOf[A](xs: Iterable[A])(f: A => Unit): Unit = obj(xs.foreach(f))
  def arr[A](xs: Iterable[A])(f: A => Unit): Unit = {
    sep(); sb += '['; first = true; xs.foreach(f); sb += ']'; first = false
  }
  def field(k: String)(v: => Unit): Unit = { key(k); v }
  def num(v: Double): Unit = {
    sep()
    sb ++= (if (v.isNaN || v.isInfinite) "null"
      else java.math.BigDecimal.valueOf(v).toPlainString)
  }
  def num(k: String, v: Double): Unit = { key(k); num(v) }
  def str(k: String, v: String): Unit = { key(k); sep(); quote(v) }
  def bool(k: String, v: Boolean): Unit = { key(k); sep(); sb ++= v.toString }
  def result: String = sb.toString
}
