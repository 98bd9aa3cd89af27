package graft.perfbench

import java.io.IOException
import java.nio.file.{FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftExtensions, SparkEntry}

/** One benchmark run in one fresh JVM. `run.py` launches it and turns the
  * JSON it writes into metrics. The workload runs in a closed loop with
  * one client:
  *   1. a cold pass, timed once, which also checks the answers: each
  *      query's result is reduced to an order-insensitive digest
  *      ([[Digest]]) and compared with the expected digest file;
  *   2. two warm passes, untimed, because one pass does not finish the
  *      JIT warm-up;
  *   3. timed passes until `--seconds` have been spent in them (at least
  *      two; four when traced), each query forced through the `noop` sink;
  *   4. graft.Bench's calibration loops, untimed.
  * Set-up is everything before the first timed pass: JVM start, the
  * session, and the cold and warm passes. Every pass runs the queries
  * in an order shuffled from `--seed`; each query is built by its
  * `SparkEntry` factory, and graft.Bench's cleanup runs outside the timed
  * region after every query. With `--trace 1`, timed passes alternate
  * between untraced and traced (listeners attached), so the trace's
  * overhead is measured in the same JVM; the traced passes' spans are
  * written at the end.
  */
object Main {

  private final case class QRun(name: String, sec: Double,
      err: Option[String])
  private final case class PassRec(kind: String, traced: Boolean,
      runs: Seq[QRun], leakFiles: Int, spanId: Int)

  def main(args: Array[String]): Unit = {
    val mainMs = Clock.nowMs
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val launchMs = opt("launch-ms").toDouble
    val workload = opt("workload")
    val queries = Workloads.all(workload)
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val dataDir = opt("data")
    val out = Paths.get(opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors()

    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
    if (traced) Taps.confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionMs = Clock.nowMs

    val trace = new Trace(workload)
    var tracing = false
    def span[T](kind: String, name: String)(body: => T): T =
      if (tracing) trace.span(kind, name)(body) else body
    def lastSpanId: Int = if (tracing) trace.lastClosedId else 0

    def settle(): Unit = {
      ListenerBusDrain.drain(spark.sparkContext)
      Bench.cleanup(spark)
    }
    val digests = mutable.LinkedHashMap.empty[String, String]
    def runQuery(name: String, check: Boolean): QRun = {
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val err = try {
        span("query", name) {
          val df = span("build", name)(fn(spark, dataDir))
          span("exec", name) {
            if (check) digests(name) = Digest.of(df)
            else df.write.format("noop").mode("overwrite").save()
          }
        }
        None
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      val sec = (System.nanoTime() - t0) / 1e9
      settle()
      QRun(name, sec, err)
    }

    val rng = new Random(seed)
    val passes = mutable.ArrayBuffer.empty[PassRec]
    val tmpDirs = Seq(System.getProperty("java.io.tmpdir"),
      spark.sparkContext.getConf.get("spark.local.dir",
        System.getProperty("java.io.tmpdir"))).distinct.map(Paths.get(_))
    def leakFiles(): Int = tmpDirs.map(countFiles).sum
    def pass(kind: String, withTrace: Boolean): Unit = {
      val order = rng.shuffle(queries)
      if (withTrace) trace.attach(spark)
      tracing = withTrace
      val runs = span("pass", kind)(order.map(runQuery(_, kind == "cold")))
      val id = lastSpanId
      tracing = false
      if (withTrace) { ListenerBusDrain.drain(spark.sparkContext); trace.detach(spark) }
      passes += PassRec(kind, withTrace, runs, leakFiles(), id)
    }

    pass("cold", withTrace = false)
    val expected = Files.readAllLines(Paths.get(opt("expect"))).asScala
      .map(_.split("\t")).collect { case Array(_, n, d) => n -> d }.toMap
    val wrong = digests.collect { case (n, d) if !expected.get(n).contains(d) => n }
    (1 to 2).foreach(_ => pass("warm", withTrace = false))

    val warmMs = Clock.nowMs
    val setup = Seq(
      "setup_s" -> (warmMs - launchMs) / 1e3,
      "setup.jvm_s" -> (mainMs - launchMs) / 1e3,
      "setup.session_s" -> (sessionMs - mainMs) / 1e3,
      "setup.warm_s" -> (warmMs - sessionMs) / 1e3)

    val timedStart = System.nanoTime()
    var i = 0
    // a traced run needs two traced and two untraced passes for its
    // overhead, in the order untraced, traced, traced, untraced, so a pass
    // time still falling with warm-up favours neither side
    val minPasses = if (traced) 4 else 2
    while (i < minPasses || (System.nanoTime() - timedStart) / 1e9 < seconds) {
      pass("timed", withTrace = traced && (i % 4 == 1 || i % 4 == 2))
      i += 1
    }
    val timedSec = (System.nanoTime() - timedStart) / 1e9

    val (calibCpu, calibShuffle) = Calibration.run(spark)
    spark.stop()

    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val hwmKb = status.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble).getOrElse(0.0)

    def qjson(r: QRun): String = Json.obj(Seq("name" -> Json.str(r.name),
      "sec" -> Json.num(r.sec)) ++ r.err.map(e => "err" -> Json.str(e)))
    Json.write(out, Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "nproc" -> cpus.toString,
      "jvm" -> Json.str(System.getProperty("java.version")),
      "setup" -> Json.obj(setup.map { case (k, v) => k -> Json.num(v) }),
      "timed_s" -> Json.num(timedSec),
      "calib_cpu" -> Json.num(calibCpu),
      "calib_shuffle" -> Json.num(calibShuffle),
      "peak_rss_mb" -> Json.num(hwmKb / 1024),
      "checked" -> digests.size.toString,
      "wrong" -> Json.arr(wrong.map(Json.str).toSeq),
      "digests" -> Json.obj(digests.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "passes" -> Json.arr(passes.toSeq.map { p => Json.obj(Seq(
        "kind" -> Json.str(p.kind), "traced" -> p.traced.toString,
        "span" -> p.spanId.toString,
        "leak_tmp_files" -> p.leakFiles.toString,
        "queries" -> Json.arr(p.runs.map(qjson)))) })))
    if (traced) {
      val lines = trace.link().map { s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "kind" -> Json.str(s.kind), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs)) ++
        s.attrs.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }) }
      Files.write(Paths.get(opt("spans")), lines.asJava)
    }
  }

  /** Regular files under `dir`. Spark's cleaner deletes shuffle files
    * concurrently, so a file that vanishes mid-walk is skipped.
    */
  private def countFiles(dir: Path): Int = {
    var n = 0
    if (Files.isDirectory(dir)) Files.walkFileTree(dir, new SimpleFileVisitor[Path] {
      override def visitFile(f: Path, a: BasicFileAttributes): FileVisitResult = {
        if (a.isRegularFile) n += 1
        FileVisitResult.CONTINUE
      }
      override def visitFileFailed(f: Path, e: IOException): FileVisitResult =
        FileVisitResult.CONTINUE
    })
    n
  }
}

/** graft.Bench's machine calibration: a fixed single-thread ALU loop and a
  * fixed 32-task shuffle, recorded beside the timings so a slow boot shows.
  */
object Calibration {
  def run(spark: SparkSession): (Double, Double) = {
    val cpu = {
      val t0 = System.nanoTime()
      var acc = 0L
      var x = 88172645463325252L
      var i = 0
      while (i < 400000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; acc += x; i += 1
      }
      if (acc == 42L) System.err.println("") // defeat DCE
      (System.nanoTime() - t0) / 1e9
    }
    val shuffle = {
      val t0 = System.nanoTime()
      spark.range(0, 50000000L, 1, 32).selectExpr("id % 1000 AS k")
        .groupBy("k").count().write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    (cpu, shuffle)
  }
}

/** Just enough JSON writing for the run record. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")
  def write(p: Path, kv: Seq[(String, String)]): Unit =
    Files.writeString(p, obj(kv) + "\n")
}
