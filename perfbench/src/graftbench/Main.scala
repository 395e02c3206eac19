package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import graft.data.SyntheticDocs

/** Benchmark main: one JVM, the program as a library, one client in a
  * closed loop (the next pass starts when the previous one and its check
  * have finished).
  *
  * Both runs first generate the seeded corpus unless it is cached, untimed.
  * Untraced run: three set-ups (session start + input load + one checked
  * warm-up pass; the first one also pays for JIT compilation), passes at
  * `cores` for half the window (at least three), then a fresh 1-core session
  * on the same input and partition settings for the other half (at least
  * one pass).
  * Traced run: untraced and traced passes alternate; a traced pass calls
  * each layer under its own span and materialises its output in between.
  *
  * Prints one JSON line of raw results; `perfbench/run.py` adds units. */
object Main {

  final case class Opts(workload: String = "", seed: Long = 1L, seconds: Double = 10,
      trace: Boolean = false, smoke: Boolean = false, root: File = new File(".bench_build"),
      build: String = "dev", cores: Int = 4)

  /** shuffle and default parallelism, pinned at every core count so the
    * 1-core leg runs the same plan as the `cores` leg */
  private val Partitions = 8
  private val Setups = 3

  final class Session(val spark: SparkSession) {
    val ledger = new TaskLedger
    spark.sparkContext.addSparkListener(ledger)
    def sc = spark.sparkContext
    def stop(): Unit = spark.stop()
  }

  def session(o: Opts, cores: Int): Session = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", Partitions.toString)
      .config("spark.default.parallelism", Partitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64L * 1024 * 1024).toString)
      .config("spark.local.dir", new File(o.root, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(o.root, "warehouse").getAbsolutePath)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new Session(spark)
  }

  def workload(o: Opts): Workload = {
    // the generators fold their seed into the family or doc id with an xor,
    // so small seeds would only permute one corpus; mixing it first gives
    // every workload seed its own corpus
    val seed = new java.util.SplittableRandom(o.seed).nextLong()
    // sized so that a run, cold JVM included, stays under a minute on four
    // cores; at these sizes a pass still spends about half its time in the
    // per-job fixed cost (scheduling, planning), which the `*.jobs` layer
    // counts expose
    lazy val images = new ImageCorpus(o.root, seed, if (o.smoke) 1500 else 6000)
    o.workload match {
      case "img_e2e" => new ImgE2E(images)
      case "img_decode" => new ImgDecode(images)
      case "doc_skew" => new DocSkew(o.root,
        if (o.smoke) SyntheticDocs.Spec(2, 60, 200, 6, 2000, seed)
        else SyntheticDocs.Spec(2, 200, 600, 6, 6000, seed))
      case w => sys.error(s"unknown workload '$w'")
    }
  }

  private def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no successful pass to take a median of")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def seconds(since: Long): Double = (System.nanoTime() - since) / 1e9

  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s: $what")

  /** runs `one` until `window` seconds have passed and at least `min`
    * attempts were made */
  private def loop[T](window: Double, min: Int)(one: => Option[T]): Seq[T] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[T]
    var n = 0
    while (n < min || seconds(t0) < window) { out ++= one; n += 1 }
    out.toSeq
  }

  final case class Timed(wallS: Double, shuffleBytes: Long, fromMs: Long, toMs: Long, floor: Long)

  /** attempts, failures and the reference output of one run */
  final class Book(o: Opts, wl: Workload) {
    var attempted = 0
    var failed = 0
    val problems = ArrayBuffer.empty[String]
    var reference: Option[Digest] = None
    var recall = Double.NaN
    var precision = Double.NaN

    /** files `v` and returns whether the pass is good: its own checks hold,
      * `extra` reports no problem, and its output digest equals this run's
      * first (and, per seed and build, every earlier run's) */
    def judge(v: Verdict, extra: Option[String] = None): Boolean = {
      val mismatch = reference match {
        case None =>
          reference = Some(v.digest)
          wl.corpus.repeats(s"${wl.name}_digest_${o.build}", v.digest.toString)
        case Some(r) => Option.when(r != v.digest)(s"${wl.name}: output digest ${v.digest} != $r")
      }
      if (!v.recall.isNaN) { recall = v.recall; precision = v.precision }
      val found = v.problems ++ mismatch ++ extra
      problems ++= found
      if (found.nonEmpty) failed += 1
      found.isEmpty
    }

    def attempt[T](body: => Option[T]): Option[T] = {
      attempted += 1
      try body
      catch {
        case NonFatal(e) =>
          failed += 1
          problems += s"${wl.name}: pass threw $e"
          None
      }
    }
  }

  def timedPass(s: Session, wl: Workload, book: Book, heap: HeapWatch, full: Boolean): Option[Timed] =
    book.attempt {
      val floor = heap.settle()
      BenchBus.drain(s.sc)
      val before = s.ledger.total
      val m0 = heap.uptimeMs
      val t0 = System.nanoTime()
      val check = wl.pass()
      val wall = seconds(t0)
      val m1 = heap.uptimeMs
      BenchBus.drain(s.sc)
      val shuffle = s.ledger.total.shuffleBytes - before.shuffleBytes
      Option.when(book.judge(check(full)))(Timed(wall, shuffle, m0, m1, floor))
    }

  def plainRun(o: Opts, wl: Workload, book: Book, heap: HeapWatch): Map[String, Double] = {
    val setups = ArrayBuffer.empty[Double]
    var s: Session = null
    for (i <- 1 to Setups) {
      if (s != null) s.stop()
      val t0 = System.nanoTime()
      s = session(o, o.cores)
      wl.load(s.spark)
      val ready = seconds(t0)
      timedPass(s, wl, book, heap, full = i == 1).foreach(t => setups += ready + t.wallS)
      phase(s"set-up $i")
    }
    val many = try loop(o.seconds / 2, 3)(timedPass(s, wl, book, heap, full = false))
      finally s.stop()
    phase(s"${o.cores}-core leg")
    val one =
      if (o.cores == 1) many
      else {
        val s1 = session(o, 1)
        try { wl.load(s1.spark); loop(o.seconds / 2, 1)(timedPass(s1, wl, book, heap, full = false)) }
        finally s1.stop()
      }
    def show(label: String, xs: Seq[Double]) =
      System.err.println(f"[perfbench] ${wl.name} $label: ${xs.map(x => f"$x%.3f").mkString(" ")}")
    show("set-up s", setups.toSeq)
    show(s"pass s at ${o.cores} cores", many.map(_.wallS))
    show("pass s at 1 core", one.map(_.wallS))
    show("peak heap MB", many.map(t => heap.peak(t.fromMs, t.toMs, t.floor) / 1e6))
    val wallMany = median(many.map(_.wallS))
    Map(
      "rows_per_s" -> wl.rows / wallMany,
      "scaling_eff_1to4" -> median(one.map(_.wallS)) / (o.cores * wallMany),
      "recall" -> book.recall,
      "precision" -> book.precision,
      "setup_s" -> median(setups.toSeq),
      "shuffle_mb" -> median(many.map(_.shuffleBytes / 1e6)),
      "peak_heap_mb" -> median(many.map(t => heap.peak(t.fromMs, t.toMs, t.floor) / 1e6)))
  }

  def tracedRun(o: Opts, wl: Workload, book: Book, heap: HeapWatch): Map[String, Double] = {
    val s = session(o, o.cores)
    val tr = new Tracer(s.sc, s.ledger)
    try {
      wl.load(s.spark)
      timedPass(s, wl, book, heap, full = true)
      var firstCounts: Option[Map[String, Double]] = None
      val plain = ArrayBuffer.empty[Double]
      val traced = ArrayBuffer.empty[(Double, Layers)]
      loop(o.seconds, 2) {
        plain ++= timedPass(s, wl, book, heap, full = false).map(_.wallS)
        tr.run = s"${wl.name}/s${o.seed}/p${traced.length}"
        traced ++= book.attempt {
          heap.settle()
          val ((check, layers), root) = tr.span("pass")(wl.traced(tr, o.cores))
          val repeat = firstCounts match {
            case None =>
              firstCounts = Some(layers.counts)
              wl.corpus.repeats(s"${wl.name}_counts_${o.build}",
                layers.counts.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(","))
            case Some(c) => Option.when(c != layers.counts)(
              s"${wl.name}: layer counts ${layers.counts} != first pass's $c")
          }
          Option.when(book.judge(check(false), repeat))((root.wallS, layers))
        }
        Some(())
      }
      val timingKeys = traced.flatMap(_._2.timings.keys).distinct
      traced.head._2.counts ++
        timingKeys.map(k => k -> median(traced.map(_._2.timings(k)).toSeq)) +
        ("trace_overhead" -> median(traced.map(_._1).toSeq) / median(plain.toSeq))
    } finally {
      tr.write(new File(o.root, s"traces/${wl.name}-s${o.seed}-${System.currentTimeMillis()}.jsonl"))
      s.stop()
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def parse(args: Array[String]): Opts = args.toList.grouped(2).foldLeft(Opts()) {
    case (o, List("--workload", v)) => o.copy(workload = v)
    case (o, List("--seed", v)) => o.copy(seed = v.toLong)
    case (o, List("--seconds", v)) => o.copy(seconds = v.toDouble)
    case (o, List("--trace", v)) => o.copy(trace = v == "1")
    case (o, List("--smoke", v)) => o.copy(smoke = v == "1")
    case (o, List("--root", v)) => o.copy(root = new File(v))
    case (o, List("--build", v)) => o.copy(build = v)
    case (o, List("--cores", v)) => o.copy(cores = v.toInt)
    case (_, a) => sys.error(s"bad arguments: ${a.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val code =
      try {
        val o = parse(args)
        Fs.delete(new File(o.root, "spark-local")) // left behind by a killed run
        val wl = workload(o)
        val heap = new HeapWatch
        if (!wl.ready) {
          val gen = session(o, o.cores)
          try wl.prepare(gen.spark) finally gen.stop()
        }
        phase("corpus ready")
        val book = new Book(o, wl)
        val metrics = if (o.trace) tracedRun(o, wl, book, heap) else plainRun(o, wl, book, heap)
        val body = Seq(
          "\"correct\":" + (book.failed == 0),
          "\"attempted\":" + book.attempted,
          "\"failed\":" + book.failed,
          "\"problems\":" + book.problems.map(jsonStr).mkString("[", ",", "]"),
          "\"layers\":" + wl.layers.map(jsonStr).mkString("[", ",", "]"),
          "\"metrics\":" + metrics.toSeq.sorted.map { case (k, v) => s"${jsonStr(k)}:$v" }
            .mkString("{", ",", "}"))
        phase("done")
        book.problems.foreach(p => System.err.println(s"[perfbench] $p"))
        println(body.mkString("{", ",", "}"))
        0
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          1
      }
    System.out.flush()
    sys.exit(code)
  }
}
