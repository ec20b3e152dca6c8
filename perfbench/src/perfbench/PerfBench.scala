package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.sql.DriverManager
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import graft.{GraftSession, SparkEntry}
import graft.core.{SchemaInfer, ServerRegistry}
import graft.io.{CsvIO, Engine, JdbcIO, XlsxIO}
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Closed-loop benchmark of the diepy path and a fixed operator mix.
  *
  * A timed pass is the five-step ETL round trip (csv.gz import, truncate
  * re-import, csv.gz export, xlsx import, xlsx export) followed by the
  * operator mix in a seed-permuted order. Workload `warm` runs every pass
  * on the same staged inputs, so the per-directory memo caches hit;
  * `fresh` gives every pass a new byte-identical copy under a directory
  * the JVM has not seen, so they miss. An untimed warm-up pass comes
  * first; traced runs end with one query per further ops module. Every
  * output is checked every time. See perfbench/README.md. */
object PerfBench {

  /** The operator mix of every timed pass, each query with the module its
    * operator lives in. */
  val Mix: Seq[(String, String)] = Seq(
    "q148_pagerank" -> "ops.Graph")

  /** One query for each further module, run by traced runs only, after
    * the timed passes: a pass over them all costs more than a run's
    * budget allows for every run (see perfbench/README.md). */
  val Layers: Seq[(String, String)] = Seq(
    "q03_segment_revenue" -> "ops.Relational",
    "q102_funnel" -> "ops.EventOps",
    "q143_semdedup_multiprobe" -> "ops.Dedup",
    "q37_knn_ivf" -> "ops.Similarity",
    "q61_approx_recall" -> "ops.RecallGates",
    "q78_tfidf_terms" -> "ops.TextAnalysis",
    "q94_cluster_keep_best" -> "ops.Curation",
    "q87_streaming_upsert" -> "streaming.StreamingOps")

  /** Timed passes a run makes at least, so that every median has samples
    * from more than one pass. */
  val MinPasses = 3

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      corpus: Path, work: Path, digests: Path, record: Boolean)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = need("workload")
    require(wl == "warm" || wl == "fresh", s"unknown workload '$wl'")
    val o = Opts(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("corpus")).toAbsolutePath, Paths.get(need("work")).toAbsolutePath,
      Paths.get(need("digests")).toAbsolutePath, m.get("record").contains("1"))
    require(!o.record || o.trace, "recording digests needs --trace 1: only traced runs run every query")
    o
  }

  def load1m(): Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage

  private val t0 = System.nanoTime()
  def log(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $what")

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = parse(args)
    val loadBefore = load1m()
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = GraftSession.local(cpus.toString)
    val sessionS = (System.currentTimeMillis - jvmStartMs) / 1e3
    val code =
      try { new PerfBench(spark, o).run(sessionS, loadBefore, cpus); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
      finally spark.stop()
    sys.exit(code)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }

  def copyTree(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.forEach { f =>
      val t = dst.resolve(src.relativize(f).toString)
      if (Files.isDirectory(f)) Files.createDirectories(t) else Files.copy(f, t)
    } finally s.close()
  }

  def treeBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  /** Order-independent digest of a collected result under the
    * tools/selfcheck.py normalization: columns in name order, doubles
    * rounded to 9 places, rows compared as a multiset (sorted). */
  def digest(names: Seq[String], rows: Array[Row]): String = {
    val order = names.indices.sortBy(i => (names(i), i))
    val lines = rows.map(r => order.map(i => cell(r.get(i))).mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString("\u0001").getBytes("UTF-8"))
    lines.foreach(l => md.update(("\n" + l).getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(12).map(b => f"$b%02x").mkString
  }

  private def cell(v: Any): String = v match {
    case null => "null"
    case d: Double if d.isNaN || d.isInfinite => d.toString
    case d: Double => new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN).toPlainString
    case f: Float => cell(f.toDouble)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted.mkString("{", ",", "}")
    case xs: scala.collection.Seq[_] => xs.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }
}

/** Spark work counted inside one call window (traced runs only). */
final case class Win(wall: Double, jobs: Long, tasks: Long, cpuNs: Long,
    shufRows: Long, shufBytes: Long, spillBytes: Long, cachedBytes: Long) {
  def +(o: Win): Win = Win(wall + o.wall, jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    shufRows + o.shufRows, shufBytes + o.shufBytes, spillBytes + o.spillBytes,
    cachedBytes + o.cachedBytes)
  def -(o: Win): Win = Win(wall - o.wall, jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shufRows - o.shufRows, shufBytes - o.shufBytes, spillBytes - o.spillBytes,
    cachedBytes - o.cachedBytes)
}

object Win {
  def wall(s: Double): Win = Win(s, 0, 0, 0, 0, 0, 0, 0)
}

final class Tally extends SparkListener {
  val jobs, tasks, cpuNs, shufRows, shufBytes, spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shufRows.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
    ()
  }
}

/** One ETL round trip: its call windows by name, the row counts the two
  * csv.gz imports reported, the Derby bytes per row held after the xlsx
  * import, and the exported csv.gz's size. A window, count or size is
  * missing when its call failed. */
final case class EtlRun(wins: Map[String, Win], rows: Map[String, Long], dbBytesPerRow: Double,
    csvBytes: Option[Long])

/** What the ETL round trip must keep, read from the staged parquet:
  * lineitem's row count, sum(l_quantity) and sum(l_extendedprice) in
  * cents; customer's row count and sum(c_custkey). */
final case class Expected(liRows: Long, liQty: Double, liCents: Long, cuRows: Long, cuKeys: Long)

final class PerfBench(spark: SparkSession, o: PerfBench.Opts) {
  import PerfBench._

  private val sc = spark.sparkContext
  private val tally: Option[Tally] =
    if (o.trace) { val t = new Tally; sc.addSparkListener(t); Some(t) } else None

  private var attempted = 0L
  private var failed = 0L
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def add(k: String, v: Double): Unit =
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v

  private def cachedBytes(): Long =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Run `body` as one call window; counters are read only when traced. */
  private def window[T](body: => T): (T, Win) = tally match {
    case None =>
      val t0 = System.nanoTime()
      val r = body
      (r, Win.wall((System.nanoTime() - t0) / 1e9))
    case Some(t) =>
      def snap(wall: Double) = {
        PerfbenchBus.drain(sc)
        Win(wall, t.jobs.get, t.tasks.get, t.cpuNs.get, t.shufRows.get, t.shufBytes.get,
          t.spillBytes.get, cachedBytes())
      }
      val before = snap(0)
      val t0 = System.nanoTime()
      val r = body
      val wall = (System.nanoTime() - t0) / 1e9
      (r, snap(wall) - before)
  }

  /** One checked operation: counts it as attempted, and as failed when it
    * throws or its output check does not hold. */
  private def op[T](what: String)(body: => T)(check: T => Option[String]): Option[T] = {
    attempted += 1
    val outcome =
      try { val r = body; check(r).toLeft(r) }
      catch { case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
    outcome.left.foreach { msg => failed += 1; log(s"FAILED $what: $msg") }
    outcome.toOption
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  // ---------- set-up ----------

  /** Copy the corpus and stage the ETL inputs from it. */
  private def stage(dir: Path): Unit = {
    copyTree(o.corpus, dir.resolve("corpus"))
    stageEtl(dir, dir.resolve("corpus"), lit(true))
  }

  /** The ETL inputs: the lineitem rows where `keep` holds as one csv.gz,
    * customer as a one-sheet workbook. */
  private def stageEtl(dir: Path, corpus: Path, keep: Column): Unit = {
    def table(t: String) = spark.read.parquet(corpus.resolve(s"$t.parquet").toString)
    Files.createDirectories(dir)
    CsvIO.exportCsv(table("lineitem").where(keep), dir.resolve("lineitem.csv.gz").toString, gzip = true)
    XlsxIO.writeSheet(table("customer"), dir.resolve("customer.xlsx").toString, "customer")
  }

  private def expected(corpus: Path, keep: Column): Expected = {
    def table(t: String) = spark.read.parquet(corpus.resolve(s"$t.parquet").toString)
    val li = table("lineitem").where(keep).agg(count(lit(1)), sum("l_quantity"),
      sum(round(col("l_extendedprice") * 100).cast(LongType))).head()
    val cu = table("customer").agg(count(lit(1)), sum(col("c_custkey").cast(LongType))).head()
    Expected(li.getLong(0), li.getDouble(1), li.getLong(2), cu.getLong(0), cu.getLong(1))
  }

  // ---------- ETL round trip ----------

  private def jdbcLongs(url: String, sql: String): Seq[Long] = {
    val cn = DriverManager.getConnection(url)
    try {
      val rs = cn.createStatement().executeQuery(sql)
      rs.next()
      (1 to rs.getMetaData.getColumnCount).map(rs.getLong)
    } finally cn.close()
  }

  private def rowsCheck(want: Long)(got: Option[Long]): Option[String] =
    if (got.contains(want)) None else Some(s"imported $got rows, want $want")

  /** The five timed steps on the inputs under `in`, against a new Derby
    * database. Traced passes also time the stages inside each step, each
    * materialized once, so that self times follow by subtraction. */
  private def etlPass(in: Path, ex: Expected, db: Path, out: Path): EtlRun = {
    val url = s"jdbc:derby:$db;create=true"
    DriverManager.getConnection(url).close() // create the database outside the timed steps
    val engine = new Engine(spark, ServerRegistry(Map("bench" -> url)))
    val csv = in.resolve("lineitem.csv.gz").toString
    val xlsx = in.resolve("customer.xlsx").toString
    val outCsv = out.resolve("out.csv.gz").toString
    val outXlsx = out.resolve("out.xlsx").toString
    Files.createDirectories(out)
    val wins = mutable.LinkedHashMap.empty[String, Win]
    val rows = mutable.Map.empty[String, Long]
    var dbBytesPerRow = Double.NaN
    var csvBytes: Option[Long] = None
    def timed[T](name: String)(body: => T): T = {
      val (r, w) = window(body)
      wins(name) = w
      r
    }
    val traced = tally.isDefined
    try {
      def stageOp[T](name: String)(body: => T): Option[T] = op(name)(timed(name)(body))(_ => None)
      if (traced) {
        // readRaw = the call (it reads the header) + one scan of its frame
        for (raw <- stageOp("readRaw.call")(CsvIO.readRaw(spark, csv, ","))) {
          stageOp("readRaw.scan")(noop(raw))
          for (cols <- stageOp("inferSample")(SchemaInfer.inferSample(raw)))
            stageOp("castTo+scan")(noop(CsvIO.castTo(raw, cols)))
        }
      }
      op("import csv.gz")(timed("import")(engine.importFile(csv, "bench...T")))(
        rowsCheck(ex.liRows)).flatten.foreach(rows("import") = _)
      op("re-import csv.gz with truncate")(
        timed("reimport")(engine.importFile(csv, "bench...T", truncate = true))) { r =>
        rowsCheck(ex.liRows)(r).orElse {
          val held = jdbcLongs(url, "SELECT COUNT(*) FROM T").head
          if (held == ex.liRows) None else Some(s"table holds $held rows after the re-import")
        }
      }.flatten.foreach(rows("reimport") = _)
      if (traced) stageOp("readTable.T")(noop(JdbcIO.readTable(spark, url, "T")))
      op("export csv.gz")(timed("export")(engine.exportTable("bench...T", outCsv, gzip = true))) { _ =>
        val back = spark.read.option("header", "true").csv(outCsv)
          .agg(count(lit(1)), sum(col("l_quantity").cast(DoubleType)),
            sum(round(col("l_extendedprice").cast(DoubleType) * 100).cast(LongType))).head()
        val (n, qty, cents) = (back.getLong(0), back.getDouble(1), back.getLong(2))
        if (n == ex.liRows && math.abs(qty - ex.liQty) <= 1e-9 * math.abs(ex.liQty) &&
            cents == ex.liCents) None
        else Some(s"exported csv has ($n, $qty, $cents), want (${ex.liRows}, ${ex.liQty}, ${ex.liCents})")
      }
      if (Files.exists(Paths.get(outCsv))) csvBytes = Some(Files.size(Paths.get(outCsv)))
      if (traced) stageOp("importSheet")(noop(XlsxIO.importSheet(spark, xlsx, "customer")._1))
      op("import xlsx")(timed("xlsxImport")(engine.importFile(xlsx, "bench...C"))) { r =>
        rowsCheck(ex.cuRows)(r).orElse {
          val Seq(n, keys) = jdbcLongs(url, "SELECT COUNT(*), SUM(CAST(\"c_custkey\" AS BIGINT)) FROM C")
          if (n == ex.cuRows && keys == ex.cuKeys) None
          else Some(s"xlsx table holds ($n, $keys), want (${ex.cuRows}, ${ex.cuKeys})")
        }
      }
      // seg0 holds the tables; the transaction log's size depends on
      // checkpoint timing, not on the rows. NaN (correct = false) when a
      // failed step left a table missing.
      dbBytesPerRow = scala.util.Try {
        val held = jdbcLongs(url, "SELECT COUNT(*) FROM T").head +
          jdbcLongs(url, "SELECT COUNT(*) FROM C").head
        treeBytes(db.resolve("seg0")).toDouble / held
      }.getOrElse(Double.NaN)
      if (traced) stageOp("readTable.C")(noop(JdbcIO.readTable(spark, url, "C")))
      op("export xlsx")(timed("xlsxExport")(engine.exportTable("bench...C", outXlsx))) { _ =>
        val back = XlsxIO.importSheet(spark, outXlsx, "C")._1
          .agg(count(lit(1)), sum(col("c_custkey").cast(LongType))).head()
        if (back.getLong(0) == ex.cuRows && back.getLong(1) == ex.cuKeys) None
        else Some(s"xlsx round trip has (${back.getLong(0)}, ${back.getLong(1)}), " +
          s"want (${ex.cuRows}, ${ex.cuKeys})")
      }
    } finally {
      try DriverManager.getConnection(s"jdbc:derby:$db;shutdown=true")
      catch { case _: java.sql.SQLException => () } // Derby reports a clean shutdown as an exception
      deleteTree(db)
      deleteTree(out)
    }
    EtlRun(wins.toMap, rows.toMap, dbBytesPerRow, csvBytes)
  }

  // ---------- operator mix ----------

  private val firstDigest = mutable.Map.empty[String, String]
  private val recorded: Map[String, String] =
    if (o.record) Map.empty
    else {
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(o.digests.toFile)
      tree.get("digests").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
    }

  private def digestCheck(name: String, d: String): Option[String] = {
    val first = firstDigest.getOrElseUpdate(name, d)
    if (first != d) Some(s"digest $d differs from this run's first pass $first")
    else if (o.record) None
    else recorded.get(name) match {
      case None => Some("no recorded digest")
      case Some(r) if r != d => Some(s"digest $d differs from the recorded $r")
      case _ => None
    }
  }

  /** One query, materialized by collecting its result as a caller would;
    * the digest is computed from the collected rows outside the window.
    * None when the query failed. */
  private def runQuery(corpus: Path, name: String, module: String): Option[(String, Win)] = {
    val fn = SparkEntry.queries(name)
    val r = op(name)(window { val df = fn(spark, corpus.toString); (df.columns.toSeq, df.collect()) }) {
      case ((names, rows), _) => digestCheck(name, digest(names, rows))
    }
    r.foreach { case (_, w) => log(f"$name%s ${w.wall}%.3f s") }
    r.map { case (_, w) => s"$module.$name" -> w }
  }

  // ---------- run ----------

  def run(sessionS: Double, loadBefore: Double, cpus: Int): Unit = {
    Files.createDirectories(o.work)
    val setupReps = 3
    val stageS = (0 until setupReps).map { i =>
      val t0 = System.nanoTime()
      stage(o.work.resolve(s"stage$i"))
      (System.nanoTime() - t0) / 1e9
    }
    val staged = o.work.resolve(s"stage${setupReps - 1}")
    (0 until setupReps - 1).foreach(i => deleteTree(o.work.resolve(s"stage$i")))
    val setupS = sessionS + median(stageS)
    log(f"set-up: session $sessionS%.2f s, stagings ${stageS.map(x => f"$x%.2f").mkString(" ")} s")
    val ex = expected(staged.resolve("corpus"), lit(true))
    // the warm-up round trip runs the same calls on a tenth of lineitem:
    // enough for the JIT, at a fraction of a full round trip's time
    val warmKeep = col("l_orderkey") % 10 === 0
    stageEtl(o.work.resolve("warmup"), staged.resolve("corpus"), warmKeep)
    val warmEx = expected(staged.resolve("corpus"), warmKeep)
    val rnd = new Random(o.seed)

    /** Inputs for pass `p`: the staged set (warm) or a new copy (fresh). */
    def inputs(p: String): Path =
      if (o.workload == "warm") staged
      else {
        val d = o.work.resolve(s"fresh-${o.seed}-$p")
        copyTree(staged, d)
        d
      }

    def etl(in: Path, ex: Expected, tag: String) =
      etlPass(in, ex, o.work.resolve(s"derby$tag"), o.work.resolve(s"out$tag"))
    def queries(in: Path, qs: Seq[(String, String)]) =
      rnd.shuffle(qs).flatMap { case (n, m) => runQuery(in.resolve("corpus"), n, m) }

    // warm-up: one ETL round trip on the tenth, then the mix on the inputs
    // a timed pass would get
    val w0 = System.nanoTime()
    etl(o.work.resolve("warmup"), warmEx, "w")
    log(f"warm-up ETL ${(System.nanoTime() - w0) / 1e9}%.2f s")
    val firstPassS = queries(inputs("w"), Mix).map(_._2.wall).sum
    // timed passes: MinPasses, then more while one as long as the last
    // would still end within --seconds
    val loopStart = System.nanoTime()
    var last = 0L
    var p = 1
    while (p <= MinPasses || System.nanoTime() - loopStart + last <= (o.seconds * 1e9).toLong) {
      val t0 = System.nanoTime()
      val in = inputs(p.toString)
      // the seed orders the pass: the ETL round trip and each mix query
      val mix = mutable.ArrayBuffer.empty[(String, Win)]
      val steps: Seq[() => Unit] = (() => recordEtl(etl(in, ex, p.toString))) +:
        Mix.map { case (n, m) => () => { mix ++= runQuery(in.resolve("corpus"), n, m); () } }
      rnd.shuffle(steps).foreach(_())
      if (mix.size == Mix.size) add("mix_s", mix.map(_._2.wall).sum)
      recordQueries(mix.toSeq)
      last = System.nanoTime() - t0
      p += 1
    }
    val timedPasses = p - 1
    val sessionCachedMib = cachedBytes() / 1048576.0
    // traced runs: each further module's query once to warm the JIT (and,
    // on warm, its memo caches), then once recorded, on the pass's inputs
    if (tally.isDefined) {
      queries(staged, Layers)
      recordQueries(queries(inputs("sweep"), Layers))
    }
    val loadAfter = load1m()

    val m = mutable.LinkedHashMap.empty[String, (Double, String)]
    def med(k: String) = samples.get(k).fold(Double.NaN)(v => median(v.toSeq))
    if (!o.trace) {
      m("setup_s") = setupS -> "s"
      m("etl_roundtrip_s") = med("etl_roundtrip_s") -> "s"
      m("mix_s") = med("mix_s") -> "s"
      m("db_bytes_per_row") = med("db_bytes_per_row") -> "B"
    } else {
      samples.keys.filterNot(EndToEnd).foreach(k => m(k) = med(k) -> unitOf(k))
      // the traced run's end-to-end figures, against the untraced run's
      // for the tracing overhead
      m("trace.etl_roundtrip_s") = med("etl_roundtrip_s") -> "s"
      m("trace.mix_s") = med("mix_s") -> "s"
      m("session.first_pass_s") = firstPassS -> "s"
      m("session.cached_mib") = sessionCachedMib -> "MiB"
    }

    if (o.record) {
      val body = firstDigest.toSeq.sorted.map { case (n, d) => s"""    "$n": "$d"""" }
      Files.writeString(o.digests,
        s"""{\n  "corpus": "${o.corpus.getFileName}",\n  "digests": {\n${body.mkString(",\n")}\n  }\n}\n""")
    }

    def num(v: Double): String =
      if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString
    def q(s: String) = "\"" + s + "\""
    // every end-to-end sample, for the spread within a run; counts otherwise
    val counts = samples.map { case (k, v) =>
      s"${q(k)}: " + (if (EndToEnd(k)) v.map(num).mkString("[", ", ", "]") else v.size.toString)
    }.mkString(", ")
    println(s"""{"provenance": {"workload": ${q(o.workload)}, "seed": ${o.seed}, """ +
      s""""trace": ${o.trace}, "corpus": ${q(o.corpus.toString)}, "nproc": $cpus, """ +
      s""""heap_mib": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
      s""""spark_sql_shuffle_partitions": ${q(spark.conf.get("spark.sql.shuffle.partitions"))}, """ +
      s""""spark_master": ${q(sc.master)}, "load1m_before": ${num(loadBefore)}, """ +
      s""""load1m_after": ${num(loadAfter)}, "session_s": ${num(sessionS)}, """ +
      s""""stage_s": [${stageS.map(num).mkString(", ")}], "timed_passes": $timedPasses, """ +
      s""""samples": {$counts}}}""")
    val metrics = m.map { case (k, (v, u)) => s"""${q(k)}: {"value": ${num(v)}, "unit": ${q(u)}}""" }
    val ok = failed == 0 && m.values.forall(v => !v._1.isNaN && !v._1.isInfinite)
    println(s"""{"correct": $ok, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}""")
  }

  /** The five timed ETL steps. */
  private val Steps = Seq("import", "reimport", "export", "xlsxImport", "xlsxExport")

  /** Samples that feed end-to-end metrics only. */
  private val EndToEnd = Set("etl_roundtrip_s", "mix_s", "db_bytes_per_row")

  private def unitOf(k: String): String =
    if (k.endsWith("_per_s")) "1/s" else if (k.endsWith("_s")) "s" else if (k.endsWith("_mib")) "MiB"
    else if (k.endsWith(".bytes")) "B" else "count"

  /** Turn one timed ETL round trip into samples: end-to-end figures
    * always, per-layer figures with self times by subtraction when traced.
    * A round trip with a failed step (counted in `failed`) gives none. */
  private def recordEtl(run: EtlRun): Unit = {
    val etl = run.wins
    val traced = tally.isDefined
    val stages = Seq("readRaw.call", "readRaw.scan", "inferSample", "castTo+scan", "readTable.T",
      "importSheet", "readTable.C")
    if (!(Steps ++ (if (traced) stages else Nil)).forall(etl.contains) || run.rows.size < 2 ||
        run.csvBytes.isEmpty)
      log("ETL round trip incomplete, not recorded")
    else {
      val rows = run.rows("import")
      add("etl_roundtrip_s", Steps.map(etl(_).wall).sum)
      add("db_bytes_per_row", run.dbBytesPerRow)
      add("step.import_rows_per_s", rows / etl("import").wall)
      add("step.reimport_rows_per_s", run.rows("reimport") / etl("reimport").wall)
      add("step.export_rows_per_s", rows / etl("export").wall)
      add("step.xlsx_roundtrip_s", etl("xlsxImport").wall + etl("xlsxExport").wall)
      log(Steps.map(k => f"$k ${etl(k).wall}%.3f s").mkString("etl: ", ", ", ""))
      if (traced) {
        def basic(layer: String, w: Win): Unit = {
          add(s"$layer.wall_s", w.wall)
          add(s"$layer.tasks", w.tasks.toDouble)
          add(s"$layer.cpu_s", w.cpuNs / 1e9)
        }
        // what importFile does before its write: the readRaw call, the
        // inference, and the cast frame's scan
        val beforeWrite = etl("readRaw.call") + etl("inferSample") + etl("castTo+scan")
        basic("io.CsvIO.readRaw", etl("readRaw.call") + etl("readRaw.scan"))
        basic("core.SchemaInfer.inferSample", etl("inferSample"))
        basic("io.CsvIO.castTo", etl("castTo+scan") - etl("readRaw.scan"))
        basic("io.JdbcIO.writeTable.create", etl("import") - beforeWrite)
        add("io.JdbcIO.writeTable.create.rows", rows.toDouble)
        basic("io.JdbcIO.writeTable.truncate", etl("reimport") - beforeWrite)
        add("io.JdbcIO.writeTable.truncate.rows", run.rows("reimport").toDouble)
        basic("io.JdbcIO.readTable", etl("readTable.T"))
        basic("io.CsvIO.exportCsv", etl("export") - etl("readTable.T"))
        add("io.CsvIO.exportCsv.bytes", run.csvBytes.get.toDouble)
        basic("io.XlsxIO.importSheet", etl("importSheet"))
        basic("io.XlsxIO.writeSheet", etl("xlsxExport") - etl("readTable.C"))
        basic("io.Engine.importFile", etl("import"))
        basic("io.Engine.exportTable", etl("export"))
      }
    }
  }

  /** Per-query samples, when traced. */
  private def recordQueries(qs: Seq[(String, Win)]): Unit =
    if (tally.isDefined)
      qs.foreach { case (layer, w) =>
        add(s"$layer.wall_s", w.wall)
        add(s"$layer.jobs", w.jobs.toDouble)
        add(s"$layer.tasks", w.tasks.toDouble)
        add(s"$layer.cpu_s", w.cpuNs / 1e9)
        add(s"$layer.shuffle_write_rows", w.shufRows.toDouble)
        add(s"$layer.shuffle_write_mib", w.shufBytes / 1048576.0)
        add(s"$layer.spill_mib", w.spillBytes / 1048576.0)
        add(s"$layer.cached_mib", w.cachedBytes / 1048576.0)
      }
}
