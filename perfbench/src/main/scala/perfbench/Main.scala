package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.orchestrate.OffloadRunner
import graft.meta.MetadataStore
import graft.verify.CrossValidator

/** One benchmark run of one workload: build or reuse the seeded inputs,
  * set up (repeated, see [[SetupReps]]), make the workload's untimed
  * warm-up passes, then drive a closed loop of operations for the
  * requested seconds and write the raw record for `run.py`.
  *
  * Usage: `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <workDir>
  * <outFile> [record]`. With `trace = 1` the timed passes alternate
  * between untraced and traced, so the same run yields both the per-layer
  * numbers and the tracing overhead.
  */
object Main {

  /** Set-up is repeated this many times per run; `setup_s` is the median. */
  val SetupReps = 3

  /** Untimed passes between set-up and the timed window, so the timed
    * passes pay less for code generation and JIT of the workload's paths
    * (which keep getting faster for tens of seconds). */
  val WarmupPasses = 1

  /** Pass numbers of operations: set-up, warm-up, and timed from 1. */
  val SetupPass = 0
  val WarmupPass = -1

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: Path, out: String, record: Boolean)

  /** Runs one timed operation, recording it and its failure, and tagging
    * every Spark job it starts with its span. */
  final class Ctx(val spark: SparkSession, val rec: Recorder, val a: Args) {
    var traced = false
    var pass: Int = SetupPass
    private var current = 0L
    /** Id of the most recent operation, for counters taken after it. */
    var lastOp = 0L

    /** Record a correctness check; a failed one fails the enclosing
      * operation (or, outside one, counts as a failed operation). */
    def check(what: String, ok: Boolean, detail: String = ""): Boolean =
      rec.check(pass, current, what, ok, detail)

    def op(kind: String, name: String)(body: Op => Boolean)
        : Boolean = {
      val o = rec.beginOp(pass, kind, name, traced)
      current = o.id
      lastOp = o.id
      tag(o.id, o.id)
      val (ok, err) =
        try (body(o), "")
        catch {
          case e: Throwable =>
            (false, Option(e.getMessage).getOrElse(e.toString)
              .linesIterator.take(1).mkString.take(300))
        }
      tag(0L, 0L)
      current = 0L
      val done = rec.endOp(o, ok, err)
      if (traced) rec.span(Span(o.id, 0L, o.id, s"$kind:$name",
        done.start, done.end))
      ok
    }

    /** A child span of `o` around `body` (recorded only when traced). */
    def child[T](o: Op, name: String)(body: => T): T = {
      val id = rec.newId()
      tag(id, o.id)
      val t0 = rec.nowMs
      try body
      finally {
        if (traced) rec.span(Span(id, o.id, o.id, name, t0, rec.nowMs))
        tag(o.id, o.id)
      }
    }

    private def tag(span: Long, op: Long): Unit =
      spark.sparkContext.setLocalProperty(SparkTracer.Prop,
        if (span == 0L || !traced) null else s"$span:$op")

    /** The offload progress callback: a step span ends when the callback
      * fires and starts `millis` earlier. */
    def steps(o: Op): OffloadRunner.StepResult => Unit = s => {
      val end = rec.nowMs
      if (traced) {
        rec.span(Span(rec.newId(), o.id, o.id, s"step.${s.name}",
          end - s.millis, end))
        rec.add(o.id, s"step.${s.name}_ms", s.millis.toDouble)
      }
      if (!s.ok) check(s"step ${s.name} ok", ok = false, s.detail)
    }
  }

  trait Workload {
    /** Build (or reuse) the seeded input files. Not part of set-up time. */
    def inputs(c: Ctx): Unit
    /** What a user does in a fresh session before the timed operations. */
    def setup(c: Ctx): Unit
    /** One iteration of the closed loop. */
    def pass(c: Ctx): Unit
    /** End-of-run checks. */
    def finish(c: Ctx): Unit = ()
    /** Facts for run.py (input sizes, per-op byte counts, ...). */
    def facts: Seq[(String, Double)] = Nil
    /** Queries whose set-up runs build the cross-query artifacts. */
    def artifactQueries: Seq[String] = Nil
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val tmp = a.work.resolve("tmp")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", tmp.resolve("spark").toString)
      .config("spark.sql.warehouse.dir", tmp.resolve("warehouse").toString)
      .config("spark.graft.checkpoint.dir", tmp.resolve("ckpt").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.tools.LogQuiet.quietNoise()
    s
  }

  def loadavg(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  def main(argv: Array[String]): Unit = {
    val a = Args(argv(0), argv(1).toLong, argv(2).toDouble, argv(3) == "1",
      Paths.get(argv(4)).toAbsolutePath, argv(5), argv.lift(6).contains("record"))
    val load0 = loadavg()
    val rec = new Recorder
    Files.createDirectories(a.work.resolve("tmp"))
    val w: Workload = a.workload match {
      case "offload_full" => new OffloadFull(a)
      case "query_warm" => new Queries(a)
      case other => throw new IllegalArgumentException(s"workload $other")
    }
    // inputs, in a session of their own that stops before set-up
    val g0 = rec.nowMs
    val gen = session(a)
    w.inputs(new Ctx(gen, rec, a))
    gen.stop()
    val genS = (rec.nowMs - g0) / 1000
    // set-up, repeated: each repetition times a new session plus the
    // workload's preparation; the previous session is cleared (the
    // engine's artifact stores outlive a session) and stopped first
    var c: Ctx = null
    val setups = (1 to SetupReps).map { _ =>
      if (c != null) {
        graft.ArtifactCaches.clearAll(c.spark)
        c.spark.stop()
      }
      val t0 = rec.nowMs
      c = new Ctx(session(a), rec, a)
      w.setup(c)
      (rec.nowMs - t0) / 1000
    }
    val spark = c.spark
    c.pass = WarmupPass
    (1 to WarmupPasses).foreach(_ => w.pass(c))
    // the timed window: whole passes until the time is up; a traced run
    // makes at least one untraced and one traced pass
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gcBeans.map(_.getCollectionTime).sum.toDouble
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val gc0 = gcMs
    val t0 = rec.nowMs
    var p = 0
    val minPasses = if (a.trace) 2 else 1
    while (p < minPasses || rec.nowMs - t0 < a.seconds * 1000) {
      p += 1
      c.pass = p
      c.traced = a.trace && p % 2 == 0
      if (c.traced) SparkTracer.around(spark, rec)(w.pass(c)) else w.pass(c)
    }
    val windowS = (rec.nowMs - t0) / 1000
    val opS = rec.ops.filter(_.pass >= 1).map(o => o.end - o.start).sum / 1000
    val gcWindow = gcMs - gc0
    val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    c.traced = false
    w.finish(c)
    spark.stop()
    val load1 = loadavg()
    val cores = Runtime.getRuntime.availableProcessors()
    // the engine bench's own contention rule, with one run per operation;
    // its wall-clock clause needs more than 30 s of timed work, so in a
    // run this short only the load-average clause can fire
    val contended = graft.tools.BenchStats.looksContended(
      wallSec = windowS + setups.sum, totalQuerySec = opS, runsPerQuery = 1,
      extraRunSec = setups.sum, loadavg1 = load0,
      hostCpus = cores)
    Out.write(a.out, rec, Seq(
      "workload" -> Out.str(a.workload), "seed" -> a.seed.toString,
      "cores" -> cores.toString, "contended" -> contended.toString,
      "loadavg_start" -> Out.num(load0), "loadavg_end" -> Out.num(load1),
      "gen_s" -> Out.num(genS),
      "setup_reps_s" -> setups.map(Out.num).mkString("[", ", ", "]"),
      "window_s" -> Out.num(windowS), "jvm_gc_ms" -> Out.num(gcWindow),
      "jvm_heap_peak_mb" -> Out.num(heapPeakMb),
      "artifact_queries" -> Out.arr(w.artifactQueries.map(Out.str)),
      "facts" -> Out.obj(w.facts.map { case (k, v) => k -> Out.num(v) }: _*)))
  }

  // ---- shared helpers -------------------------------------------------

  def rmrf(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
      .foreach(Files.delete)
    finally s.close()
  }

  /** Bytes and file count of the data files under `p` (hidden and
    * underscore-prefixed files, which Spark does not read, excluded). */
  def dirStats(p: Path): (Long, Long) = if (!Files.exists(p)) (0L, 0L) else {
    val s = Files.walk(p)
    try {
      val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && {
        val n = f.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }).toSeq
      (fs.map(Files.size).sum, fs.size.toLong)
    } finally s.close()
  }

  /** A fresh offload workspace (staging, final, metadata) under `root`. */
  final case class Workspace(root: Path) {
    val staging: String = root.resolve("staging").toString
    val fin: String = root.resolve("final").toString
    val meta: String = root.resolve("meta").toString
    def reset(): Unit = { rmrf(root); Files.createDirectories(root) }
  }

  // ---- offload_full ----------------------------------------------------

  /** A full first-pass offload of seeded lineitem into a fresh workspace,
    * then the user's `agg-validate` of source against final. */
  final class OffloadFull(a: Args) extends Workload {
    /** lineitem at sf0.05: 300 k rows, 11 columns, about 5.5 MB of
      * parquet in 4 files. */
    val Sf = 0.05
    private val source = a.work.getParent
      .resolve(s"inputs/full-${a.seed}/lineitem.parquet").toString
    private val ws = Workspace(a.work.resolve("full"))
    private var srcRows = 0L
    private var srcMax = 0L
    private var srcBytes = 0L

    def inputs(c: Ctx): Unit = {
      if (!Files.exists(Paths.get(source, "_SUCCESS")))
        DataGen.table(c.spark, a.seed, Sf, "lineitem")
          .write.mode("overwrite").parquet(source)
      val r = c.spark.read.parquet(source)
        .agg(count(lit(1)), max(col("l_orderkey"))).head()
      srcRows = r.getLong(0)
      srcMax = r.getLong(1)
      srcBytes = dirStats(Paths.get(source))._1
    }

    private def cfg(c: Ctx, progress: Option[OffloadRunner.StepResult => Unit]) =
      OffloadRunner.OffloadConfig(sourceTable = "lineitem",
        sourcePath = source, stagingPath = ws.staging, finalPath = ws.fin,
        metadataDir = ws.meta, incrementalKey = Seq("l_orderkey"),
        progress = progress)

    /** A new session's first offload of the table: set-up is the time
      * from a new session to the first offloaded table. */
    def setup(c: Ctx): Unit = {
      ws.reset()
      val steps = OffloadRunner.offload(c.spark, cfg(c, None))
      require(steps.forall(_.ok), s"set-up offload failed: $steps")
    }

    def pass(c: Ctx): Unit = {
      ws.reset()
      val spark = c.spark
      c.op("offload", "lineitem") { o =>
        OffloadRunner.offload(spark, cfg(c, Some(c.steps(o)))).forall(_.ok)
      } && {
        counters(c, c.lastOp)
        true
      } && {
        val fin = spark.read.parquet(ws.fin)
        val src = spark.read.parquet(source)
        c.op("agg_validate", "lineitem") { _ =>
          c.check("aggValidate(source, final)",
            CrossValidator.aggValidate(src, fin,
              Seq("l_returnflag", "l_linestatus"),
              Seq("l_orderkey", "l_quantity", "l_extendedprice", "l_shipdate")))
        }
      } && c.op("meta_load", "lineitem") { _ =>
        val hwm = MetadataStore.load(ws.meta, "lineitem")
          .map(_.incrementalHighValue)
        c.check("HWM == max(l_orderkey)", hwm.contains(Seq(srcMax.toString)),
          s"$hwm vs $srcMax")
      } && {
        val n = spark.read.parquet(ws.fin).count()
        c.check("final rows == source rows", n == srcRows, s"$n vs $srcRows")
      }
      ()
    }

    /** Files the traced offload `op` left in staging and final, and the
      * metadata (audit) it wrote into the fresh workspace, taken after it
      * returned so the walk is not part of its time. */
    private def counters(c: Ctx, op: Long): Unit = if (c.traced) {
      c.rec.add(op, "files_written", (dirStats(Paths.get(ws.staging))._2 +
        dirStats(Paths.get(ws.fin))._2).toDouble)
      c.rec.add(op, "meta_bytes_added",
        dirStats(Paths.get(ws.meta))._1.toDouble)
    }

    override def facts: Seq[(String, Double)] = Seq(
      "source_rows" -> srcRows.toDouble, "source_bytes" -> srcBytes.toDouble,
      "source_files" -> dirStats(Paths.get(source))._2.toDouble,
      "rows_landed_per_op" -> srcRows.toDouble,
      "final_bytes" -> dirStats(Paths.get(ws.fin))._1.toDouble)
  }

  // ---- query_warm -----------------------------------------------------

  /** A fixed query list over fixed tables; the seed orders each pass. */
  final class Queries(a: Args) extends Workload {
    private val sf = QueryLists.Sf
    private val names = QueryLists.Warm
    private val dir = a.work.getParent.resolve(s"inputs/tables-sf$sf")
      .toString
    private val refs: Map[String, String] = QueryLists.reference(sf)
    private val observed =
      scala.collection.mutable.LinkedHashMap.empty[String, String]
    private val rnd = new Random(a.seed)

    def inputs(c: Ctx): Unit =
      DataGen.writeAll(c.spark, QueryLists.DataSeed, sf, dir)

    /** Order-independent hash of every full result row, as graft.Bench
      * computes it; "empty" for no rows. */
    private def hashOf(df: DataFrame): String =
      df.select(xxhash64(struct(df.columns.toSeq.map(col): _*)).as("h"))
        .agg(expr("bit_xor(h)")).head().get(0) match {
          case null => "empty"
          case h => h.toString
        }

    /** One query: construct the DataFrame, then hash every result row. */
    private def run(c: Ctx, q: String): Unit = {
      c.op("query", q) { o =>
        val df = c.child(o, "construct") {
          graft.SparkEntry.queries(q)(c.spark, dir)
        }
        val h = c.child(o, "execute")(hashOf(df))
        val first = observed.getOrElseUpdate(q, h)
        c.check(s"$q result hash stable", h == first, s"$h vs $first") &&
          (a.record || c.check(s"$q result hash == reference",
            refs.get(q).contains(h), s"$h vs ${refs.get(q)}"))
      }
      ()
    }

    /** One pass over the list, which builds the artifacts. */
    def setup(c: Ctx): Unit = {
      graft.ArtifactCaches.clearAll(c.spark)
      names.foreach(run(c, _))
    }

    override def artifactQueries: Seq[String] = QueryLists.Builds

    def pass(c: Ctx): Unit = rnd.shuffle(names).foreach(run(c, _))

    override def finish(c: Ctx): Unit =
      if (a.record) QueryLists.record(sf, observed.toMap)

    override def facts: Seq[(String, Double)] = Seq(
      "queries" -> names.size.toDouble, "sf" -> sf)
  }
}
