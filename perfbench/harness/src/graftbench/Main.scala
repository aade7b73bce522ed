package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Q, SparkEntry, Verify}
import graft.sources.Tables

/** One benchmark run's JVM. Arguments are `key=value` pairs:
  *
  *  - `data`      directory holding the ten input tables
  *  - `out`       directory for `result.json` and the checked query outputs
  *  - `cores`     k of `local[k]`
  *  - `launch_ns` wall clock (epoch ns) at which the launcher started this JVM
  *  - `queries`   comma-separated `SparkEntry.queries` names
  *  - `seconds`   measuring window, counted from the start of the cold pass;
  *                  at least [[MinWarm]] warm passes run whatever its length
  *  - `trace`     `1` attaches the [[Tracer]]; `0` measures untraced
  *
  * The JVM builds one session and passes `Tables.smokeCheck` (set-up), then
  * runs passes over the workload's queries in order, one client, each query
  * materialized through the `noop` sink before the next starts. Pass 0 is
  * cold (fresh JVM, no staged leaves, no memo); passes 1..n are warm and
  * fill the rest of the window. After the window, an untimed check pass
  * writes every query's result as parquet under `out/q/<query>` through
  * `Verify.dumpAll`; it runs on the warm state (staged leaves and memo in
  * place), and the launcher checks those files after the JVM has exited.
  */
object Main {
  val MinWarm = 2

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val dataDir = opt("data")
    val outDir = Paths.get(opt("out"))
    val cores = opt("cores").toInt
    Files.createDirectories(outDir)

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.sql.warehouse.dir", outDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val t1 = System.nanoTime()
    Tables.smokeCheck(spark, dataDir)
    val t2 = System.nanoTime()
    val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
      "setup_s" -> (epochNs() - opt("launch_ns").toLong) / 1e9,
      "session.start_s" -> (t1 - t0) / 1e9,
      "session.smoke_s" -> (t2 - t1) / 1e9)
    val extra = ArrayBuffer.empty[String]

    val all = SparkEntry.queries
    val names = opt("queries").split(',').toSeq
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val qs: Seq[(String, Q)] = names.map(n => n -> all(n))
    val seconds = opt("seconds").toDouble
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val tracer = if (opt("trace") == "1") Some(new Tracer(spark, cores, tmp)) else None
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val perQuery = names.map(_ -> ArrayBuffer.empty[Double]).toMap

    def pass(p: Int): Double = {
      tracer.foreach(_.begin(p))
      val start = System.nanoTime()
      qs.foreach { case (name, fn) =>
        tracer.foreach(_.span(p, name, "call"))
        val c0 = System.nanoTime()
        try {
          val df = fn(spark, dataDir)
          val c1 = System.nanoTime()
          tracer.foreach(_.span(p, name, "exec"))
          df.write.format("noop").mode("overwrite").save()
          val c2 = System.nanoTime()
          tracer.foreach(_.timed(p, name, c1 - c0, c2 - c1))
          perQuery(name) += (c2 - c0) / 1e9
        } catch { case e: Throwable =>
          errors.getOrElseUpdate(name, firstLine(e.getMessage, e))
        }
      }
      tracer.foreach(_.clear())
      val wall = (System.nanoTime() - start) / 1e9
      tracer.foreach(_.end(p, wall))
      wall
    }

    val window0 = System.nanoTime()
    val cold = pass(0)
    val warm = ArrayBuffer.empty[Double]
    // At least MinWarm warm passes, so that warm_s is never one pass alone.
    // Two, not more: a comparison makes 70 runs, which must fit in an hour.
    while (warm.size < MinWarm || (System.nanoTime() - window0) / 1e9 < seconds)
      warm += pass(warm.size + 1)
    metrics("cold_s") = cold
    metrics("warm_s") = median(warm.toSeq)
    metrics("peak_rss_mb") = vmHwmKb() / 1024.0
    metrics("passes") = 1 + warm.size
    tracer.foreach(t => metrics ++= t.report(1 + warm.size))

    // Untimed: the outputs the launcher checks, from the warm state.
    val checkFailures = Verify.dumpAll(spark, dataDir, outDir.resolve("q").toString, qs)
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Files.writeString(outDir.resolve("oracle_sql.json"), jobj(oracles.toSeq))
    extra += "\"warm_passes_s\": " + warm.map(num).mkString("[", ", ", "]")
    // Per query: cold time, then the median over the warm passes.
    extra += "\"query_s\": " + names.map { n =>
      val t = perQuery(n)
      val v = if (t.size > 1) s"[${num(t.head)}, ${num(median(t.tail.toSeq))}]" else "null"
      s"${Verify.jstr(n)}: $v"
    }.mkString("{", ", ", "}")
    extra += "\"errors\": " + jobj(errors.toSeq)
    extra += "\"check_errors\": " + jobj(checkFailures.map { case (k, v) => k -> firstLine(v, null) })

    val json = (metrics.map { case (k, v) => s"${Verify.jstr(k)}: ${num(v)}" } ++ extra)
      .mkString("{", ", ", "}")
    Files.writeString(outDir.resolve("result.json"), json + "\n")
    // Nothing the launcher reads happens after result.json: skip the
    // orderly SparkContext shutdown and its seconds of teardown.
    Runtime.getRuntime.halt(0)
  }

  def firstLine(msg: String, e: Throwable): String =
    Option(msg).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("")

  def jobj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${Verify.jstr(k)}: ${Verify.jstr(v)}" }.mkString("{", ", ", "}")

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak resident set of this JVM (`VmHWM`), in kB; -1 off Linux. */
  def vmHwmKb(): Double =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .collectFirst { case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble }
        .getOrElse(-1.0)
    } catch { case _: Throwable => -1.0 }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
}
