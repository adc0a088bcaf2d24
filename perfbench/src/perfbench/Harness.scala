package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable.ArrayBuffer

/** `inputs`: the directory of inputs made outside the JVM (corpus_dedup). */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                      work: String, toy: Boolean, corrupt: Boolean, inputsOnly: Boolean,
                      inputs: String)

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble, req("trace") == "1",
      req("work"), m.get("scale").contains("toy"), m.get("corrupt-expected").contains("1"),
      m.get("inputs-only").contains("1"), m.getOrElse("inputs", ""))
  }
}

/** Order-independent digest of a table: row count, distinct keys, and
  * the exact sum over rows of a 60-bit md5 prefix of the row's columns
  * joined by U+0001. The same formula is computed over the generator
  * goldens and, for dedup, in Python over the DuckDB oracle's rows.
  */
final case class Digest(rows: Long, keys: Long, sum: BigInt) {
  def flipped: Digest = copy(sum = sum ^ BigInt(1))
  override def toString: String = s"rows=$rows keys=$keys sum=$sum"
}

object Digest {
  def rowHash(cols: Seq[String]): Column =
    conv(substring(md5(concat_ws("\u0001", cols.map(c => col(c).cast("string")): _*)), 1, 15), 16, 10)
      .cast("decimal(38,0)")

  /** `rowHash` of one row's values, outside Spark. */
  def rowHashOf(values: Seq[String]): BigInt = {
    val md5 = java.security.MessageDigest.getInstance("MD5").digest(values.mkString("\u0001").getBytes("UTF-8"))
    BigInt(md5.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
  }

  /** Digest plus extra aggregates evaluated in the same pass. `key`
    * empty skips the distinct count (and its exchange).
    */
  def of(df: DataFrame, key: String, cols: Seq[String], extra: Seq[Column] = Nil): (Digest, Seq[Double]) = {
    val aggs = Seq(count(lit(1)),
      if (key.isEmpty) lit(-1L) else countDistinct(col(key)),
      coalesce(sum(rowHash(cols)), lit(0).cast("decimal(38,0)"))) ++ extra.map(_.cast("double"))
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val d = Digest(r.getLong(0), r.getLong(1), BigInt(r.getDecimal(2).toBigInteger))
    (d, (3 until r.length).map(i => if (r.isNullAt(i)) 0.0 else r.getDouble(i)))
  }

  def parse(s: String): Digest = {
    val kv = s.split(' ').map(_.split('=')).collect { case Array(k, v) => k -> v }.toMap
    Digest(kv("rows").toLong, kv("keys").toLong, BigInt(kv("sum")))
  }
}

/** One timed leg: the walls of its checked reps. */
final case class Leg(phase: String, walls: Seq[Double], stealShare: Double) {
  def median: Double = Stats.median(walls)
}

/** Run state shared by the workloads: the Spark session, op accounting,
  * timed legs, set-up timing and, in a traced run, the tracer and the
  * Spark collector.
  */
final class Ctx(val args: Args) {
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  val runId: String = s"${args.workload}-s${args.seed}-t${if (args.trace) 1 else 0}"
  val tracer = new Tracer(runId)
  val collector = new SparkCollector
  private var _spark: SparkSession = _
  private var _cores = 0
  def spark: SparkSession = _spark
  def cores: Int = _cores

  // ---- op accounting (error_rate = failed / attempted) ----
  var attempted = 0
  var failed = 0
  val failures = ArrayBuffer.empty[String]

  /** Run a checked op: it fails if it throws or `check` returns an
    * error message. Returns the wall seconds of `op` alone.
    */
  def checked[T](what: String)(op: => T)(check: T => Option[String]): Option[Double] = {
    attempted += 1
    try {
      val t0 = System.nanoTime()
      val r = op
      val wall = (System.nanoTime() - t0) / 1e9
      check(r) match {
        case None => Some(wall)
        case Some(msg) => fail(s"$what: $msg"); None
      }
    } catch {
      case e: Exception => fail(s"$what: threw ${e.getClass.getName}: ${e.getMessage}"); None
    }
  }

  private val t0Ms = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def log(msg: String): Unit =
    Console.err.println(f"perfbench: [${(System.currentTimeMillis() - t0Ms) / 1e3}%8.3f] $msg")

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    Console.err.println(s"perfbench: FAILED $msg")
  }

  // ---- session ----
  def session(cores: Int, extra: Map[String, String]): SparkSession = {
    if (_spark != null) _spark.stop()
    log(s"session local[$cores] starting")
    val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$runId")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
    extra.foreach { case (k, v) => b.config(k, v) }
    _spark = b.getOrCreate()
    _spark.sparkContext.setLogLevel("ERROR")
    _cores = cores
    log(s"session local[$cores] up")
    _spark
  }

  def stop(): Unit = if (_spark != null) { _spark.stop(); _spark = null }

  // ---- set-up ----
  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var excludedS = 0.0
  private var _setupS = 0.0
  def setupS: Double = _setupS

  /** Make or load the inputs; the time is not part of the set-up. */
  def inputs[T](make: => T): T = {
    val t0 = System.nanoTime()
    try make finally excludedS += (System.nanoTime() - t0) / 1e9
  }

  /** The set-up: from JVM start until the first timed rep is ready.
    * `start` starts the session and loads the inputs (through
    * `inputs`), `warm` runs the first, checked rep of each op and warms
    * the page cache. The set-up ends after the warm-up rounds of the
    * first `legs`.
    */
  def setup(start: => Unit)(warm: => Unit): Unit = {
    start
    warm
  }

  private def endSetup(): Unit = if (_setupS == 0.0) {
    _setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - excludedS
    log(f"setup: ${_setupS}%.3f s")
  }

  /** Rounds of reps at least: `n`, or one at toy size. */
  def minRounds(n: Int): Int = if (args.toy) 1 else n

  /** Untimed warm-up rounds before the timed ones: `n`, none at toy size. */
  def warmRounds(n: Int): Int = if (args.toy) 0 else n

  // ---- timed legs ----
  private val timedLegs = ArrayBuffer.empty[Leg]
  val phaseLayer = ArrayBuffer.empty[(String, Seq[(String, Double)])]
  val overhead = ArrayBuffer.empty[Double]
  private val box = new BoxState

  /** One leg's rep (prep untimed, op timed, check untimed) and, when
    * the leg is `traced`, its traced rep.
    */
  final class LegSpec(val phase: String, val rep: () => Option[Double], val traced: Option[Leg => Unit])

  def spec[T](phase: String, traced: Boolean = true)(prep: => Unit)(op: => T)(check: T => Option[String]): LegSpec =
    new LegSpec(phase, () => { prep; checked(s"$phase rep")(op)(check) },
      if (traced) Some(l => tracedRep(l)(prep)(op)(check)) else None)

  /** Time legs together: their reps take turns, so a burst of machine
    * noise lands on every leg alike, until `minRounds` rounds are done
    * and `budgetS` seconds have passed. `warmRounds` untimed, checked
    * rounds come first, while the JIT still compiles the ops' hot paths;
    * on the first call they are part of the set-up. In a traced run one
    * more rep of each traced leg follows with the listeners attached; it
    * is never part of the walls.
    */
  def legs(budgetS: Double, minRounds: Int, warmRounds: Int, maxRounds: Int = 60)(specs: LegSpec*): Seq[Leg] = {
    (0 until warmRounds).foreach(_ => specs.foreach(_.rep()))
    endSetup()
    val walls = specs.map(s => s -> ArrayBuffer.empty[Double]).toMap
    val t0 = System.nanoTime()
    val steal0 = box.stealTicks()
    var i = 0
    while (i < maxRounds && (i < minRounds || (System.nanoTime() - t0) / 1e9 < budgetS)) {
      specs.foreach(s => s.rep().foreach(walls(s) += _))
      i += 1
    }
    val steal = box.stealShare(steal0, box.stealTicks())
    val ls = specs.map(s => Leg(s.phase, walls(s).toSeq, steal))
    ls.foreach { l =>
      timedLegs += l
      log(f"${l.phase} walls ${l.walls.map(w => f"$w%.3f").mkString(",")} steal $steal%.4f")
    }
    if (args.trace) specs.zip(ls).foreach { case (s, l) => s.traced.foreach(_(l)) }
    ls
  }

  private var tracing = false

  private def tracedRep[T](l: Leg)(prep: => Unit)(op: => T)(check: T => Option[String]): Unit = {
    prep
    collector.attach(spark)
    tracing = true
    var s: tracer.Span = null
    val wall = checked(s"${l.phase} traced rep") {
      tracer.span(spark.sparkContext, l.phase) {
        s = tracer.all.last
        op
      }
    }(check)
    tracing = false
    collector.detach(spark)
    wall.foreach { w =>
      if (l.median > 0) overhead += (w - l.median) / l.median
      val m = collector.phaseMetrics(tracer.subtree(s.id), s.startMs, s.endMs, w, cores)
      phaseLayer += (l.phase -> (m :+ ("uncovered_s" -> tracer.selfNs(s) / 1e9)))
    }
  }

  /** A span around a call into a layer; a no-op outside a traced rep. */
  def span[T](name: String)(body: => T): T =
    if (tracing) tracer.span(spark.sparkContext, name)(body) else body

  def boxLine(): String = box.json(nproc, timedLegs.toSeq)
}

/** Machine state recorded beside each run's metrics, so a noisy run
  * can be told apart from a regression.
  */
final class BoxState {
  private val load0 = loadAvg()

  private def cpuLine(): Array[Long] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty)
      finally src.close()
    } catch { case _: Exception => Array.empty }

  /** (steal ticks, total ticks) from /proc/stat. */
  def stealTicks(): (Long, Long) = {
    val c = cpuLine()
    if (c.length < 8) (0L, 0L) else (c(7), c.take(8).sum)
  }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) (b._1 - a._1).toDouble / (b._2 - a._2) else 0.0

  private def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(' ').take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "" }

  def json(nproc: Int, legs: Seq[Leg]): String = {
    val steal = legs.map(l => f""""${l.phase}":${l.stealShare}%.5f""").mkString(",")
    s"""{"nproc":$nproc,"loadavg_start":"$load0","loadavg_end":"${loadAvg()}",""" +
      s""""steal_share":{$steal},"jvm":"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}","scala":"${scala.util.Properties.versionNumberString}",""" +
      s""""xmx_mb":${Runtime.getRuntime.maxMemory() >> 20}}"""
  }
}
