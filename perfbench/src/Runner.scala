package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.etl.Pipeline

/** One benchmark run of one workload, in one JVM.
  *
  * Closed loop: a single driver thread issues the workload's operations one
  * after another on `local[cores]`. A pass is every operation once, in an
  * order drawn from the seed. The run is
  *
  *   setup   session start, staging of every fixture the workload reads,
  *           then the warmup pass: an untimed pass that also writes the
  *           outputs of oracle-checked ops to parquet for the DuckDB compare;
  *   timed   passes until `seconds` have elapsed, and at least two.
  *
  * Each op is timed in two phases: construct (the query function call,
  * including any Spark job it runs eagerly) and exec (materialising every
  * output row into an order-insensitive digest, see [[Digest]]). After the
  * run, every pass's digest of an op must equal the warmup pass's. A full
  * GC runs before each op, outside both timers, as in graft.Bench, and
  * samples the live heap.
  *
  * With trace=1 a SparkListener and a log appender are attached and spans
  * are kept in memory (see [[Trace]]); end-to-end runs use trace=0.
  *
  * Arguments are key=value pairs; see `run.py`, which launches this class.
  */
object Runner {

  final case class OpTime(pass: Int, name: String, constructS: Double,
      execS: Double, cpuS: Double) {
    def wallS: Double = constructS + execS
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val a = argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val workload = a("workload")
    val ops = a("ops").split(",").filter(_.nonEmpty).toSeq
    val fixtures = a("fixtures").split(",").filter(_.nonEmpty).toSeq
    val dataDir = a("data")
    val root = a("root")
    val seconds = a("seconds").toDouble
    val seed = a("seed").toLong
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val launchEpochMs = a("launch_ms").toLong
    val genS = a("gen_s").toDouble
    val batch = if (workload == "daily_batch") Some(DailyBatch.fromArgs(a)) else None

    val clock = new Clock
    val trace = new Trace(clock, traced, s"$workload-$seed-${System.currentTimeMillis()}")
    val runSpan = trace.open("run", workload, None, startMs = launchEpochMs.toDouble)
    val setupSpan = trace.open("setup", "setup", Some(runSpan), startMs = launchEpochMs.toDouble)
    val bootS = (clock.nowMs() - launchEpochMs) / 1e3 - genS

    val t0 = clock.nowMs()
    val spark = GraftSession.builder(s"perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", s"$root/local")
      .config("spark.graft.scratchDir", s"$root/scratch")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$root/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sessionS = (clock.nowMs() - t0) / 1e3
    trace.attach(spark)
    trace.close(trace.open("setup", "session", Some(setupSpan), startMs = t0))

    val errors = mutable.ListBuffer.empty[(String, String)]
    def fail(what: String, e: Throwable): Unit = {
      errors += what -> e.toString.replaceAll("\\p{Cntrl}", " ").take(300)
      System.err.println(s"[perfbench] FAILED $what")
      e.printStackTrace()
    }

    // each fixture called directly, timed alone; a failure counts
    val fixtureS = mutable.LinkedHashMap.empty[String, Double]
    var setupErrors = 0
    fixtures.foreach { f =>
      val span = trace.open("fixture", f, Some(setupSpan))
      trace.tag(spark, s"setup:$f", "exec", span)
      val f0 = clock.nowMs()
      try Fixtures.stage(f, spark, dataDir)
      catch { case e: Throwable => setupErrors += 1; fail(s"fixture:$f", e) }
      fixtureS(f) = (clock.nowMs() - f0) / 1e3
      trace.close(span)
    }

    val modules = Modules.of(SparkEntry.queryGroups)
    val queries = SparkEntry.queries
    val oracle = SparkEntry.oracleSql
    val heap = new HeapSampler
    val opTimes = mutable.ArrayBuffer.empty[OpTime]
    val passWall = mutable.ArrayBuffer.empty[Double]
    val passCpu = mutable.ArrayBuffer.empty[Double]
    val digests = mutable.Map.empty[(Int, String), String]
    var attempted = 0
    var failed = 0

    /** One op: GC + heap sample (untimed), then construct and exec. In the
      * warmup pass an oracle-checked op's output goes to parquet first and
      * the digest is taken from the file. */
    def runOp(name: String, pass: Int, passSpan: Trace.Span,
        body: Option[() => Unit]): Option[OpTime] = {
      heap.gcAndSample()
      attempted += 1
      val opSpan = trace.open("op", name, Some(passSpan))
      trace.currentOp = name
      val cpu0 = Cpu.processS()
      val c0 = clock.nowMs()
      var c1 = c0
      val res = try {
        body match {
          case Some(step) =>
            val ex = trace.open("exec", name, Some(opSpan))
            trace.tag(spark, s"op:$name:$pass", "exec", ex)
            step()
            trace.close(ex)
            c1 = c0
          case None =>
            val cs = trace.open("construct", name, Some(opSpan))
            trace.tag(spark, s"op:$name:$pass", "construct", cs)
            val df = queries(name)(spark, dataDir)
            trace.close(cs)
            c1 = clock.nowMs()
            val ex = trace.open("exec", name, Some(opSpan))
            trace.tag(spark, s"op:$name:$pass", "exec", ex)
            val out =
              if (pass == 0 && oracle.contains(name)) {
                val p = s"$root/oracle/$name"
                df.coalesce(1).write.mode("overwrite").parquet(p)
                spark.read.parquet(p)
              } else df
            digests((pass, name)) = Digest.of(out)
            trace.close(ex)
        }
        val c2 = clock.nowMs()
        Some(OpTime(pass, name, (c1 - c0) / 1e3, (c2 - c1) / 1e3, Cpu.processS() - cpu0))
      } catch {
        case e: Throwable =>
          failed += 1
          fail(s"op:$name:pass$pass", e)
          None
      } finally {
        trace.currentOp = ""
        trace.close(opSpan)
      }
      res
    }

    def pass(index: Int): Unit = {
      val passSpan = trace.open("pass", s"pass$index", Some(if (index == 0) setupSpan else runSpan))
      trace.currentPass = index
      val written0 = FsBytes.written()
      val order = new scala.util.Random(seed * 1000003L + index).shuffle(ops)
      val times = mutable.ArrayBuffer.empty[OpTime]
      batch.foreach { b =>
        b.steps(spark, index).foreach { case (step, fn) =>
          runOp(step, index, passSpan, Some(fn)).foreach(times += _)
        }
      }
      order.foreach { name => runOp(name, index, passSpan, None).foreach(times += _) }
      trace.close(passSpan)
      if (index > 0) {
        opTimes ++= times
        passWall += times.map(_.wallS).sum
        passCpu += times.map(_.cpuS).sum
        trace.passes += index
        trace.passBytesWritten(index) = FsBytes.written() - written0
      }
    }

    val w0 = clock.nowMs()
    pass(0)
    val warmupS = (clock.nowMs() - w0) / 1e3
    trace.close(setupSpan)
    val setupS = genS + bootS + sessionS + fixtureS.values.sum + warmupS
    System.err.println(f"[perfbench] setup $setupS%.2fs: gen $genS%.2f boot $bootS%.2f " +
      f"session $sessionS%.2f fixtures ${fixtureS.values.sum}%.2f warmup $warmupS%.2f")

    val timedStart = clock.nowMs()
    var p = 1
    while (p <= 2 || clock.nowMs() - timedStart < seconds * 1e3) { pass(p); p += 1 }

    // output checks (untimed): rows from every op that has no oracle, and
    // the warmup pass's digest on every timed pass
    ops.foreach { name =>
      digests.get((0, name)).foreach { d0 =>
        if (d0.startsWith("0:") && !oracle.contains(name)) {
          failed += 1
          errors += s"rows:$name" -> "no rows"
        }
        (1 until p).flatMap(i => digests.get((i, name))).filter(_ != d0).foreach { d =>
          failed += 1
          errors += s"digest:$name" -> s"warmup pass $d0 != timed pass $d"
        }
      }
    }
    batch.foreach { b =>
      b.verify(spark).foreach { msg => failed += 1; errors += "daily_batch" -> msg }
    }
    val calibS = if (traced) Calib.run(spark) else 0.0
    heap.gcAndSample()
    trace.close(runSpan)
    spark.stop()

    val leftoverMb = Seq("tmp", "local", "scratch", "hadoop", "warehouse")
      .map(d => Disk.bytes(Paths.get(root, d))).sum / 1e6

    val wall = opTimes.map(_.wallS).toSeq
    val e2e = Seq(
      "setup_s" -> setupS,
      "pass_s" -> Stats.median(passWall.toSeq),
      "op_p50_s" -> Stats.quantile(wall, 0.5),
      "op_p90_s" -> Stats.quantile(wall, 0.9),
      "cpu_s" -> Stats.median(passCpu.toSeq),
      "heap_live_peak_mb" -> heap.peakMb)
    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (traced) {
      layers ++= trace.layerMetrics(opTimes.toSeq, modules,
        batch.map(b => b.ingestRows), batch.map(b => b.ingestBytes))
      layers("setup.session_s") = sessionS
      layers("setup.warmup_s") = warmupS
      Fixtures.names.foreach { f =>
        layers(s"setup.${f}_s") = fixtureS.getOrElse(f, 0.0)
      }
      layers("setup.errors") = setupErrors.toDouble
      layers("host.calib_s") = calibS
      layers("disk.leftover_mb") = leftoverMb
      layers("trace.pass_s") = Stats.median(passWall.toSeq)
      trace.writeSpans(Paths.get(a("spans")))
    }
    val json = Json.obj(Seq(
      "passes" -> Json.num(passWall.size),
      "attempted" -> Json.num(attempted),
      "failed" -> Json.num(failed + setupErrors),
      "errors" -> Json.obj(errors.toSeq.map { case (k, v) => k -> Json.str(v) }),
      "e2e" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> Json.obj(layers.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "oracle_sql" -> Json.obj(ops.filter(oracle.contains).map(n => n -> Json.str(oracle(n)))),
      "op_wall_s" -> Json.obj(ops.map { n =>
        n -> Json.num(Stats.median(opTimes.filter(_.name == n).map(_.wallS).toSeq)) })))
    Files.writeString(Paths.get(a("out")), json)
  }
}

/** Wall clock in epoch milliseconds with nanoTime resolution. */
final class Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

object Cpu {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds of this process, all threads. */
  def processS(): Double = os.getProcessCpuTime / 1e9
}

/** Live driver heap: used heap right after a full collection. */
final class HeapSampler {
  private val mem = ManagementFactory.getMemoryMXBean
  var peakMb = 0.0
  def gcAndSample(): Unit = {
    System.gc()
    peakMb = math.max(peakMb, mem.getHeapMemoryUsage.getUsed / 1048576.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** Bytes written through Hadoop's local filesystem by this process. */
object FsBytes {
  def written(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(s => Option(s.getLong("bytesWritten"))).map(_.longValue).getOrElse(0L)
}

object Disk {
  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}

/** graft.Bench's host-calibration anchor, sized down: a fixed CPU-bound
  * hash aggregate with no I/O. Shows host drift only. */
object Calib {
  def run(spark: SparkSession): Double = {
    def once(): Double = {
      System.gc()
      val t0 = System.nanoTime()
      spark.range(0L, 50000000L, 1L, 8)
        .selectExpr("xxhash64(id) % 4096 AS k", "id")
        .groupBy("k").agg(org.apache.spark.sql.functions.sum("id"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    once()
    once()
  }
}

/** Order-insensitive digest of a frame's rows: `<rows>:<sum of row
  * hashes>`. Doubles are rendered at 12 significant digits so that
  * summation-order noise in the last bits does not change the digest. */
object Digest {
  def of(df: DataFrame): String = {
    val (n, h) = df.rdd.map(r => (1L, rowHash(r)))
      .fold((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    s"$n:${java.lang.Long.toHexString(h)}"
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else f"$d%.12g"
    case f: Float => if (f.isNaN || f.isInfinite) f.toString else f"${f.toDouble}%.6g"
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Map[_, _] =>
      s.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => java.util.Base64.getEncoder.encodeToString(b)
    case x => x.toString
  }

  def rowHash(r: Row): Long = {
    val bytes = render(r).getBytes("UTF-8")
    val h1 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x1234567)
    val h2 = scala.util.hashing.MurmurHash3.bytesHash(bytes, 0x7654321)
    (h1.toLong << 32) ^ (h2.toLong & 0xffffffffL)
  }
}

/** Module of each driver query: the object that registers it in
  * `SparkEntry.queryGroups` (later groups win, as in `SparkEntry.queries`). */
object Modules {
  def of(groups: Seq[(Map[String, (SparkSession, String) => DataFrame], Map[String, String])])
      : Map[String, String] =
    groups.flatMap { case (qs, _) =>
      val module = qs.values.headOption.map(f => name(f.getClass.getName)).getOrElse("?")
      qs.keys.map(_ -> module)
    }.toMap

  /** `graft.ext.Dedup$$$Lambda/0x...` -> `ext.Dedup` */
  def name(cls: String): String = cls.stripPrefix("graft.").takeWhile(_ != '$')
}

/** The `ensure*` ingest fixtures the workloads read, by name, called
  * directly so that each is timed on its own and a failure is seen. */
object Fixtures {
  import graft.ext._
  private val table: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "dedup_incremental_index" -> ((s, d) => Dedup.ensureIncrementalIndex(s, d)),
    "ivf_model" -> ((s, d) => Ivf.ensureModel(s, d)),
    "pq_model" -> ((s, d) => Pq.ensureModel(s, d)),
    "pq_ivfpq_layout" -> ((s, d) => Pq.ensureIvfPqLayout(s, d)),
    "dedup_delete_fixture" -> ((s, d) => Dedup.ensureDeleteFixture(s, d)),
    "ivf_retrain_fixture" -> ((s, d) => Ivf.ensureRetrainFixture(s, d)))

  val names: Seq[String] = table.map(_._1)
  private val byName = table.toMap

  def stage(name: String, spark: SparkSession, dir: String): Unit = byName(name)(spark, dir)
}

/** daily_batch's ETL side: each pass lands the next month through
  * `Pipeline.runEtlIncremental` and runs `Pipeline.runQc` over the
  * growing table; [[verify]] checks EtlVolume's layout invariants after
  * the run. */
final class DailyBatch(monthsDir: String, outDir: String, nBas: Int,
    eiaRows: IndexedSeq[Long], inRows: IndexedSeq[Long], inBytes: IndexedSeq[Long]) {
  private val landed = mutable.LinkedHashSet.empty[Int]
  private val qcFailures = mutable.ListBuffer.empty[String]
  private def month(pass: Int): Int = pass % eiaRows.size
  /** Input rows (EIA + GHCN) and input bytes landed by a pass. */
  def ingestRows(pass: Int): Long = inRows(month(pass))
  def ingestBytes(pass: Int): Long = inBytes(month(pass))

  def steps(spark: SparkSession, pass: Int): Seq[(String, () => Unit)] = {
    val m = month(pass)
    Seq(
      "etl_land_month" -> (() => {
        Pipeline.runEtlIncremental(spark, f"$monthsDir/m$m%03d", outDir)
        landed += m
      }),
      "qc_checks" -> (() => {
        val bad = Pipeline.runQc(spark, outDir).filterNot(_.passed)
        if (bad.nonEmpty) {
          qcFailures ++= bad.map(r => s"pass $pass: ${r.name} actual=${r.actual}")
          throw new IllegalStateException(s"QC failed: ${bad.map(_.name).mkString(",")}")
        }
      }))
  }

  private def leaves(path: String, depth: Int): Int = {
    def walk(f: java.io.File, d: Int): Int =
      if (d == 0) 1
      else Option(f.listFiles()).getOrElse(Array.empty)
        .filter(c => c.isDirectory && c.getName.contains("=")).map(walk(_, d - 1)).sum
    walk(new java.io.File(path), depth)
  }

  /** EtlVolume's partition-leaf and row-count invariants for the months
    * landed so far; returns the mismatches. */
  def verify(spark: SparkSession): Seq[String] = {
    val k = landed.size.toLong
    val rows = spark.read.parquet(s"$outDir/bal_auth").count()
    Seq(
      (leaves(s"$outDir/bal_auth", 3).toLong, nBas * k, "bal_auth leaves"),
      (leaves(s"$outDir/time", 2).toLong, k, "time leaves"),
      (leaves(s"$outDir/weather", 3).toLong, nBas * k, "weather leaves"),
      (rows, landed.toSeq.map(eiaRows).sum, "bal_auth rows")).collect {
      case (got, exp, what) if got != exp => s"$what: $got != $exp"
    } ++ qcFailures
  }
}

object DailyBatch {
  def fromArgs(a: Map[String, String]): DailyBatch = {
    def longs(k: String) = a(k).split(",").map(_.toLong).toIndexedSeq
    new DailyBatch(a("months"), s"${a("root")}/etl_out", a("bas").toInt,
      longs("eia_rows"), longs("in_rows"), longs("in_bytes"))
  }
}

/** Minimal JSON writer (numbers, strings, objects). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def num(i: Int): String = i.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
