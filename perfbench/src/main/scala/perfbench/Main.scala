package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.{Graft, Q}

object Stats {
  /** Linear-interpolated percentile (numpy's default), NaN when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val r = (s.size - 1) * p / 100.0
      val lo = r.floor.toInt
      val hi = r.ceil.toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
}

object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuNanos(): Long = os.getProcessCpuTime

  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb(): Double = {
    val s = Source.fromFile("/proc/self/status")
    try s.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(Double.NaN)
    finally s.close()
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** One benchmark run in one JVM: set up (several times, timed), measure
  * the workload for the given seconds, check every output, and write the
  * result as JSON. Usage:
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *                  --work DIR --out FILE [--master local[*]]
  */
object Main {
  // Workload sizes, fixed here so both sides of a comparison run the same work.
  val BacklogFiles = 30
  val BacklogLines = 5000
  val CurateDocs = 750
  val CurateTimes = 4
  val SmallDocs = 15
  val SetupReps = 4

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toInt
    val trace = opt.getOrElse("trace", "0") == "1"
    val work = new File(opt("work"))
    val master = opt.getOrElse("master", "local[*]")
    work.mkdirs()
    val result = workload match {
      case "ingest_backlog" => new Backlog(master, seed, seconds, trace, work).run()
      case "catalog_gen" => new CatalogRun(master, seed, seconds, trace, work).run()
      case "curate_x4" => new CurateRun(master, seed, seconds, trace, work).run()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.println(Json(result)) finally w.close()
  }
}

/** Shared run skeleton: timed set-up reps, then the measured section. */
abstract class Run(master: String, val seed: Long, val seconds: Int, val trace: Boolean,
    val work: File) {
  var spark: SparkSession = _
  val counters = new SparkCounters
  val progress = new ProgressLog
  var failures: Seq[String] = Seq.empty
  /** Checks made outside the measured section (the untimed pass). */
  var warmChecks, warmFailed = 0L

  /** Make the workload's inputs (timed as set-up, several times). */
  def prepare(): Unit
  /** Run the workload once, untimed, so JIT and caches are warm. */
  def warmup(): Unit
  /** Untraced measurement: E2E metrics plus attempted/failed counts. */
  def measure(): (Map[String, Double], Long, Long)
  /** Traced measurement: per-layer metrics plus attempted/failed counts. */
  def traced(): (Map[String, Double], Long, Long)

  def newSession(): Unit = {
    if (spark != null) spark.stop()
    spark = Graft.session(master = master)
    spark.sparkContext.setLogLevel("ERROR")
  }

  def fail(msg: String): Unit = failures = failures :+ msg

  /** Wall seconds of the run's phases and of each timed pass, for the artifact. */
  var phases: Map[String, Double] = Map.empty
  var passWalls: Seq[Double] = Seq.empty
  var queryWalls: Map[String, Seq[Double]] = Map.empty
  def phase[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    try f finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Attach the listeners; traced() calls this after its untraced pass. */
  def attach(): Map[String, Double] = {
    spark.sparkContext.addSparkListener(counters)
    spark.streams.addListener(progress)
    counters.snapshot()
  }

  /** Engine counters since `s0`, named `spark.<counter>`. */
  def sparkSince(s0: Map[String, Double]): Map[String, Double] =
    SparkCounters.diff(s0, counters.snapshot()).map { case (k, v) => s"spark.$k" -> v }

  def run(): Map[String, Any] = {
    val reps = (1 to Main.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      newSession()
      prepare()
      (System.nanoTime() - t0) / 1e9
    }
    phase("warmup")(warmup())
    val (metrics, measured, measuredFailed) =
      if (!trace) {
        val (m, a, f) = phase("measure")(measure())
        (m ++ Map("setup_s" -> Stats.median(reps), "peak_rss_mb" -> Env.peakRssMb()), a, f)
      } else phase("traced")(traced())
    val (attempted, failed) = (measured + warmChecks, measuredFailed + warmFailed)
    val conf = spark.conf.getAll.filter { case (k, _) =>
      k.startsWith("spark.sql.") || k == "spark.master" || k.startsWith("spark.driver")
    }
    val out = Map[String, Any](
      "metrics" -> metrics, "attempted" -> attempted, "failed" -> failed,
      "failures" -> failures.take(50), "setup_reps_s" -> reps, "phases_s" -> phases,
      "passes_s" -> passWalls, "queries_s" -> queryWalls,
      "env" -> Map("spark" -> spark.version, "java" -> System.getProperty("java.version"),
        "cores" -> Runtime.getRuntime.availableProcessors, "conf" -> conf,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576))
    spark.stop()
    out
  }
}

class Backlog(master: String, seed: Long, seconds: Int, trace: Boolean, work: File)
    extends Run(master, seed, seconds, trace, work) {
  val bucket = new File(work, "in")
  var exp: Expected = _
  var pass = 0

  override def prepare(): Unit = {
    Env.rmrf(bucket)
    exp = Ingest.writeBacklog(bucket, seed, Main.BacklogFiles, Main.BacklogLines)
  }

  // the first drain pays for class loading and codegen; the JIT settles
  // over the second (measured after one warm drain, the next ran ≈ 20 %
  // slower than the one after it)
  override def warmup(): Unit = (1 to 2).foreach { _ =>
    val p = drainOnce()
    warmChecks += exp.valid
    warmFailed += bad(p)
  }

  def drainOnce(replay: Boolean = false): Ingest.Pass = {
    pass += 1
    val dir = new File(work, s"pass-$pass")
    try {
      val p = Ingest.drain(spark, bucket, dir, exp, replay)
      if (p.delivered.errors > 0) fail(s"pass $pass: ${p.delivered.errors} errors, ${p.delivered.firstError}")
      if (p.quarantined != exp.malformed) fail(s"pass $pass: quarantined ${p.quarantined} of ${exp.malformed}")
      p
    } finally Env.rmrf(dir)
  }

  private def bad(p: Ingest.Pass): Long =
    p.delivered.errors + (p.quarantined - exp.malformed).abs

  override def measure(): (Map[String, Double], Long, Long) = {
    var passes = Vector.empty[Ingest.Pass]
    // at least two drains, so total_s is always the median of as many
    while (passes.size < 2 || passes.map(_.wallS).sum < seconds) passes :+= drainOnce()
    passWalls = passes.map(_.wallS)
    (Map("total_s" -> Stats.median(passWalls),
      "rec_per_s" -> passes.map(_.validRecords).sum / passes.map(_.wallS).sum,
      "cpu_s" -> Stats.median(passes.map(_.cpuS))),
      passes.map(_.validRecords).sum, passes.map(bad).sum)
  }

  override def traced(): (Map[String, Double], Long, Long) = {
    val plain = drainOnce()
    val s0 = attach()
    val p = drainOnce(replay = true)
    Thread.sleep(200) // listener bus delivers the last progress asynchronously
    val spk = sparkSince(s0)
    val m = Ingest.progressMetrics(progress, p.delivered, p.quarantined,
      exp.valid.toLong + exp.malformed) ++ spk ++
      Ingest.stageReplay(spark, bucket, new File(work, "stages")) ++
      Ingest.routeTimings(exp.userId.take(exp.valid).map(_.toString)) ++
      Map("trace.untraced_s" -> plain.wallS, "trace.traced_s" -> p.wallS,
        "trace.overhead_frac" -> (p.wallS / plain.wallS - 1))
    Env.rmrf(new File(work, "stages"))
    (m, 2L * exp.valid, bad(plain) + bad(p))
  }
}

/** A query workload: the reference pass writes and digests each result
  * (the oracle compares what it wrote after the JVM exits); every timed or
  * traced query must reproduce its reference digest.
  */
abstract class QueryRun(master: String, seed: Long, seconds: Int, trace: Boolean, work: File)
    extends Run(master, seed, seconds, trace, work) {
  val data = new File(work, "data").getPath
  val results = new File(work, "results").getPath
  var reference: Map[String, String] = Map.empty

  def names: Seq[String]
  /** Prefix of the traced per-query wall times, if the workload reports them. */
  def perQuery: Option[String] = None
  lazy val specs: Seq[Q] = Queries.specsOf(names)

  /** The reference pass; returns (query -> (corpus, result dir)) for each
    * query to be compared with its oracle.
    */
  def referencePass(): Map[String, (String, String)] = {
    reference = Queries.dump(spark, specs, data, results)
    warmChecks += specs.size
    reference.foreach { case (n, d) =>
      if (d.startsWith("error")) { fail(s"$n: $d"); warmFailed += 1 }
    }
    specs.map(q => q.name -> (data, s"$results/${q.name}")).toMap
  }

  override def warmup(): Unit = {
    val checked = referencePass()
    val oracle = specs.flatMap(q => q.oracle.flatMap(sql => checked.get(q.name).map {
      case (dir, result) => q.name -> Map("sql" -> sql, "corpus" -> dir, "result" -> result)
    })).toMap
    val w = new java.io.PrintWriter(s"$results/oracle.json", "UTF-8")
    try w.println(Json(oracle)) finally w.close()
  }

  private def check(o: Queries.Outcome): Long =
    if (o.error.nonEmpty) { fail(s"${o.name}: ${o.error}"); 1 }
    else if (o.digest != reference(o.name)) {
      fail(s"${o.name}: digest ${o.digest} != reference ${reference(o.name)}"); 1
    } else 0

  override def measure(): (Map[String, Double], Long, Long) = {
    var passes = Vector.empty[(Seq[Queries.Outcome], Double)]
    while (passes.isEmpty || passes.map(_._1.map(_.wallS).sum).sum < seconds) {
      val c0 = Env.cpuNanos()
      val os = specs.map(q => Queries.runOne(spark, q, data))
      passes :+= (os -> (Env.cpuNanos() - c0) / 1e9)
    }
    val walls = passes.flatMap(_._1.map(_.wallS))
    passWalls = passes.map(_._1.map(_.wallS).sum)
    queryWalls = names.map(n => n -> passes.map(_._1.find(_.name == n).get.wallS)).toMap
    (Map("total_s" -> Stats.median(passWalls),
      "query_p50_s" -> Stats.pct(walls, 50), "query_p90_s" -> Stats.pct(walls, 90),
      "cpu_s" -> Stats.median(passes.map(_._2))),
      walls.size.toLong, passes.flatMap(_._1).map(check).sum)
  }

  override def traced(): (Map[String, Double], Long, Long) = {
    val plain = specs.map(q => Queries.runOne(spark, q, data))
    val s0 = attach()
    val tr = specs.map(q => Queries.traceOne(spark, q, data, counters))
    val spk = sparkSince(s0)
    val plainS = plain.map(_.wallS).sum
    val tracedS = tr.map(_._1.wallS).sum
    val m = Queries.familyMetrics(tr.map { case (o, x) => o.name -> x }) ++
      perQuery.toSeq.flatMap(p => tr.map { case (o, _) => s"$p.${o.name}.s" -> o.wallS }) ++ spk ++
      Map("trace.untraced_s" -> plainS, "trace.traced_s" -> tracedS,
        "trace.overhead_frac" -> (tracedS / plainS - 1))
    (m, 2L * plain.size, (plain ++ tr.map(_._1)).map(check).sum)
  }
}

/** catalog_gen: relational, scalar, similarity and Html/Urls queries over
  * seeded sf0.01-sized tables.
  */
class CatalogRun(master: String, seed: Long, seconds: Int, trace: Boolean, work: File)
    extends QueryRun(master, seed, seconds, trace, work) {
  override def names: Seq[String] = Queries.Catalog
  override def prepare(): Unit = TableGen.write(spark, seed, data)
}

/** curate_x4: the heavy near-dup and text queries over a corpus upscaled
  * ×4. Oracles too slow for the full corpus run on a small one; the
  * MinHash pairs, which have no oracle, and the edit-distance groups on
  * the full corpus are held to invariants.
  */
class CurateRun(master: String, seed: Long, seconds: Int, trace: Boolean, work: File)
    extends QueryRun(master, seed, seconds, trace, work) {
  val mini = new File(work, "mini").getPath

  override def names: Seq[String] = Queries.Curate
  override def perQuery: Option[String] = Some("curate")

  override def prepare(): Unit = {
    DocGen.write(spark, seed, Main.CurateDocs, Main.CurateTimes, data)
    DocGen.write(spark, seed + 7919, Main.SmallDocs, Main.CurateTimes, mini)
  }

  override def referencePass(): Map[String, (String, String)] = {
    val full = super.referencePass()
    val small = specs.filter(q => Queries.SmallOracle.contains(q.name))
    Queries.dump(spark, small, mini, s"$results/mini").foreach {
      case (n, d) => if (d.startsWith("error")) { fail(s"$n (small corpus): $d"); warmFailed += 1 }
    }
    def held(q: String)(f: (SparkSession, String, String, Int) => Seq[String]): Seq[String] =
      try f(spark, data, s"$results/$q", Main.CurateTimes)
      catch { case e: Exception => Seq(s"$q: invariant check failed: $e") }
    val invariants = Seq(held("q_f2_minhash_pairs")(Queries.minhashPairProblems),
      held("q_edit_dedup_groups")(Queries.editGroupProblems))
    invariants.flatten.foreach(fail)
    warmChecks += invariants.size + small.size
    warmFailed += invariants.count(_.nonEmpty)
    full ++ small.map(q => q.name -> (mini, s"$results/mini/${q.name}"))
  }
}
