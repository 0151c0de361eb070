package perfbench

import java.time.Instant
import java.util.SplittableRandom

import scala.collection.mutable

import graft.config.{LoaderConfig, WriteMode}
import graft.loader.Loader
import graft.table.TableIdent

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

/** A closed-loop workload with one client. Inputs come only from the
  * seed: the same seed gives the same rows, keys and ranges in the same
  * order, however many of them a run gets through.
  */
abstract class Workload(val seed: Long, val smoke: Boolean) {
  def name: String
  /** Operation types reported as `write_p50_ms` and `read_p50_ms`: the
    * write the workload exists to measure and the read that follows it.
    */
  def writeKind: String
  def readKind: String
  /** Canonical text of the seed tables and of the first `units` cycles'
    * inputs, for the byte-identity check.
    */
  def inputText(units: Int): Iterator[String]
  /** Builds the seed tables in namespace `ns`. */
  def setup(ctx: Ctx, ns: String): Unit
  /** Runs warm-up cycles, then timed cycles until `seconds` have passed. */
  def run(ctx: Ctx, seconds: Double): Unit
  /** Checks the final table contents against the model. */
  def verify(ctx: Ctx): Unit
  /** The table whose layout and metadata the per-layer metrics follow. */
  def mainTable: TableIdent

  protected def rng(salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + salt)

  protected def payload(r: SplittableRandom, min: Int, max: Int): String = {
    val n = min + r.nextInt(max - min + 1)
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + r.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  protected def frame(ctx: Ctx, rows: Seq[Row], schema: StructType): DataFrame =
    ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
}

object Workload {
  val names: Seq[String] = Seq("ingest_stream", "upsert_lookup", "mv_refresh")

  def apply(name: String, seed: Long, smoke: Boolean): Workload = name match {
    case "ingest_stream" => new IngestStream(seed, smoke)
    case "upsert_lookup" => new UpsertLookup(seed, smoke)
    case "mv_refresh" => new MvRefresh(seed, smoke)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (expected one of ${names.mkString(", ")})")
  }

  /** Zipf(s) ranks over [0, n), sampled by inverting a precomputed CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }
}

/** Micro-batches of time-ordered events streamed through one
  * `Loader.loadBatches` call into a `day(ts)` table, with a share of
  * late rows for the previous days and a freshness query over the
  * latest day every `scanEvery` flushes.
  */
final class IngestStream(seed: Long, smoke: Boolean) extends Workload(seed, smoke) {
  val name = "ingest_stream"
  val writeKind = "flush"
  val readKind = "fresh_scan"
  // The reference harness streams 200,000-row batches with
  // commit_interval = 5 (examples/load_stream.py); batches here are a
  // tenth of that, so a run holds enough flushes for a steady median.
  private val batchRows = if (smoke) 200 else 20000
  private val commitInterval = 5
  // The rest is this benchmark's own choice. A day spans 2 flushes, so
  // every timed flush carries late rows and writes the same number of
  // partitions; a freshness query follows each day's second flush.
  private val flushesPerDay = 2
  private val lateShare = 0.05
  private val lateDays = 3
  private val scanEvery = 2
  private val seedFlushes = 2
  // one whole untimed cycle, so timed cycles start on a scan boundary
  private val warmFlushes = scanEvery
  private val day0 = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  private val batchesPerDay = commitInterval * flushesPerDay

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("ts", TimestampType),
    StructField("key", StringType),
    StructField("payload", StringType)))

  private val loadTs = Instant.parse("2024-06-01T12:00:00Z")
  private def config = LoaderConfig(writeMode = WriteMode.Append,
    partitionCol = Some("day(ts)"), commitInterval = commitInterval,
    loadTimestamp = Some(loadTs))

  /** Rows of batch `b`: ids b*batchRows.., timestamps advancing through
    * day b / batchesPerDay, except a `lateShare` of rows that land on
    * one of the previous `lateDays` days.
    */
  def batch(b: Int): IndexedSeq[(Long, Long, String, String)] = {
    val r = rng(b.toLong)
    val day = b / batchesPerDay
    val rowsPerDay = batchesPerDay.toLong * batchRows
    (0 until batchRows).map { j =>
      val id = b.toLong * batchRows + j
      val onTime = day0 + day * 86400L + ((b % batchesPerDay).toLong * batchRows + j) * 86400L / rowsPerDay
      val ts =
        if (day > 0 && r.nextDouble() < lateShare)
          day0 + (day - 1 - r.nextInt(math.min(day, lateDays))) * 86400L + r.nextInt(86400)
        else onTime
      (id, ts, s"k${r.nextInt(1000)}", payload(r, 8, 200))
    }
  }

  def inputText(units: Int): Iterator[String] =
    (0 until seedFlushes * commitInterval + units).iterator.flatMap(batch).map(_.productIterator.mkString("|"))

  private var ns = ""
  private def ident = TableIdent(ns, "events")
  def mainTable: TableIdent = ident
  // model: day -> (rows, sum of ids, max ts)
  private val days = mutable.TreeMap.empty[Long, (Long, Long, Long)]
  private var rowsFed = 0L

  private def toRows(b: IndexedSeq[(Long, Long, String, String)]): Seq[Row] = b.map {
    case (id, ts, k, p) => Row(id, java.sql.Timestamp.from(Instant.ofEpochSecond(ts)), k, p)
  }

  private def feedModel(b: IndexedSeq[(Long, Long, String, String)]): Unit = {
    b.foreach { case (id, ts, _, _) =>
      val d = Math.floorDiv(ts - day0, 86400L)
      val (n, s, m) = days.getOrElse(d, (0L, 0L, Long.MinValue))
      days(d) = (n + 1, s + id, math.max(m, ts))
    }
    rowsFed += b.size
  }

  def setup(ctx: Ctx, ns0: String): Unit = {
    ns = ns0
    val seedBatches = (0 until seedFlushes * commitInterval).map(batch)
    seedBatches.foreach(feedModel)
    new Loader(ctx.cat).loadBatches(
      seedBatches.iterator.map(b => frame(ctx, toRows(b), schema)), ident, Some(config))
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    ctx.watch(ident)
    val feed = new Iterator[DataFrame] {
      private var b = seedFlushes * commitInterval
      private var flushes = 0
      private var flushOp = 0L
      private var flushStart = 0L
      private var flushRows = 0L
      private var timedStart = 0L
      private var cycleNs = 0L
      private var done = false

      def hasNext: Boolean = {
        if (flushStart != 0L) {
          val end = System.nanoTime()
          ctx.attempted += 1
          ctx.tracer.endOp(flushOp, "flush", flushStart, end)
          ctx.tracer.child(flushOp, "loader.flush", "loader", flushStart, end)
          ctx.sample("flush", flushStart, end)
          if (ctx.timing) { ctx.rowsWritten += flushRows; ctx.count("loader.rows", flushRows.toDouble) }
          ctx.afterWrite(ident, flushRows)
          cycleNs += end - flushStart
          flushStart = 0L; flushRows = 0L
          flushes += 1
          if (flushes % scanEvery == 0) { freshScan(); cyclesDone() }
          if (flushes == warmFlushes) { ctx.startTiming(); timedStart = System.nanoTime(); cycleNs = 0L }
          done = ctx.timing && flushes % scanEvery == 0 &&
            System.nanoTime() - timedStart >= (seconds * 1e9).toLong
        }
        !done
      }

      private def cyclesDone(): Unit = {
        if (ctx.timing) ctx.cycles.add(cycleNs / 1e6)
        cycleNs = 0L
      }

      /** Count, id sum and newest timestamp of the latest day, via SQL. */
      private def freshScan(): Unit = {
        val (day, (n, s, m)) = days.last
        val since = Instant.ofEpochSecond(day0 + day * 86400L).toString.replace("T", " ").stripSuffix("Z")
        val pred = s"ts >= TIMESTAMP '$since'"
        ctx.beforeRead(ident, Some(pred))
        cycleNs += ctx.op("fresh_scan")(ctx.query(
          s"SELECT count(*), sum(id), max(ts) FROM graft.$ns.events WHERE $pred")) { rows =>
          val r = rows.head
          val got = (r.getLong(0), r.getLong(1), r.getTimestamp(2).toInstant.getEpochSecond)
          if (got == ((n, s, m))) None else Some(s"day $day: got $got, expected ${(n, s, m)}")
        }
      }

      def next(): DataFrame = {
        val rows = batch(b)
        val df = frame(ctx, toRows(rows), schema)
        feedModel(rows)
        flushRows += rows.size
        b += 1
        if (b % commitInterval == 0) {
          flushOp = ctx.tracer.beginOp("flush")
          flushStart = System.nanoTime()
        }
        df
      }
    }
    val before = rowsFed
    try {
      val res = new Loader(ctx.cat).loadBatches(feed, ident, Some(config))
      ctx.expect("load_result", res.rowsLoaded == rowsFed - before,
        s"loadBatches reported ${res.rowsLoaded} rows, fed ${rowsFed - before}")
    } catch {
      case scala.util.control.NonFatal(e) => ctx.attempted += 1; ctx.fail("flush", e.toString)
    }
  }

  def verify(ctx: Ctx): Unit = {
    val got = ctx.spark.sql(
      s"""SELECT CAST(floor((unix_seconds(ts) - $day0) / 86400) AS BIGINT), count(*), sum(id),
         |  unix_seconds(max(ts)), count(_load_dttm) FROM graft.$ns.events GROUP BY 1""".stripMargin)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)), r.getLong(4)))
      .toMap
    ctx.expect("verify", got.map { case (d, (v, _)) => d -> v } == days.toMap,
      s"per-day (rows, id sum, max ts) differ: got ${got.size} days, expected ${days.size}")
    ctx.expect("verify", got.values.map(_._2).sum == rowsFed, "_load_dttm missing on some rows")
  }
}

/** A keyed `bucket(16, key)` table under upserts through the loader,
  * Zipf-skewed point lookups and a range aggregate through Spark SQL,
  * with a replace-by-filter load, snapshot expiry and compaction every
  * `maintainEvery` cycles.
  */
final class UpsertLookup(seed: Long, smoke: Boolean) extends Workload(seed, smoke) {
  val name = "upsert_lookup"
  val writeKind = "upsert"
  val readKind = "lookup"
  private val initialKeys = if (smoke) 2000 else 40000
  private val upsertRows = if (smoke) 200 else 2000
  private val updateShare = 0.5
  private val lookupsPerCycle = 8
  private val rangeWidth = if (smoke) 200 else 2000
  private val replaceWidth = if (smoke) 100 else 1000
  private val maintainEvery = 2
  private val warmCycles = 1
  private val zipf = new Workload.Zipf(initialKeys, 1.1)

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("val", LongType),
    StructField("ver", IntegerType),
    StructField("payload", StringType)))
  private val spec = Some("bucket(16, key)")

  private type Rec = (Long, Long, Int, String)
  final case class Cycle(upsert: IndexedSeq[Rec], lookups: IndexedSeq[Long],
                         range: (Long, Long), replace: Option[(Long, Long, IndexedSeq[Rec])])

  /** Seed rows, then one [[Cycle]] per call; versions follow the model. */
  final class Gen {
    private val r = rng(1L)
    var nextKey: Long = initialKeys.toLong
    private var cycle = 0
    private val ver = mutable.Map.empty[Long, Int].withDefaultValue(0)
    private def rec(k: Long): Rec = { ver(k) += 1; (k, r.nextLong() % 1000000000L, ver(k), payload(r, 16, 96)) }
    def seedRows(): IndexedSeq[Rec] = (0L until initialKeys).map(rec)
    def next(): Cycle = {
      cycle += 1
      val updates = mutable.LinkedHashSet.empty[Long]
      val nUpd = (upsertRows * updateShare).toInt
      while (updates.size < nUpd) updates += zipf.sample(r).toLong
      val inserts = (nextKey until nextKey + (upsertRows - nUpd))
      nextKey += upsertRows - nUpd
      val upsert = (updates.toSeq ++ inserts).map(rec).toIndexedSeq
      val lookups = IndexedSeq.fill(lookupsPerCycle)(zipf.sample(r).toLong)
      val lo = (r.nextLong() & Long.MaxValue) % (nextKey - rangeWidth)
      val replace =
        if (cycle % maintainEvery != 0) None
        else {
          val a = (r.nextLong() & Long.MaxValue) % (nextKey - replaceWidth)
          Some((a, a + replaceWidth, (a until a + replaceWidth).map(rec)))
        }
      Cycle(upsert, lookups, (lo, lo + rangeWidth), replace)
    }
  }

  def inputText(units: Int): Iterator[String] = {
    val g = new Gen
    g.seedRows().iterator.map(_.productIterator.mkString("|")) ++
      Iterator.fill(units)(g.next().toString)
  }

  private var ns = ""
  private def ident = TableIdent(ns, "kv")
  def mainTable: TableIdent = ident
  private val model = mutable.TreeMap.empty[Long, (Long, Int)]
  private val gen = new Gen

  private def rows(rs: Seq[Rec]): Seq[Row] = rs.map { case (k, v, n, p) => Row(k, v, n, p) }
  private def put(rs: Seq[Rec]): Unit = rs.foreach { case (k, v, n, _) => model(k) = (v, n) }

  def setup(ctx: Ctx, ns0: String): Unit = {
    ns = ns0
    val seedRows = gen.seedRows()
    put(seedRows)
    new Loader(ctx.cat).loadData(frame(ctx, rows(seedRows), schema), ident,
      Some(LoaderConfig(writeMode = WriteMode.Overwrite, partitionCol = spec)))
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    val loader = new Loader(ctx.cat)
    val upsertCfg = LoaderConfig(writeMode = WriteMode.Upsert, joinCols = Some(Seq("key")))
    ctx.watch(ident)
    var cycle = 0
    var t0 = 0L
    // A run stops only after a whole number of maintenance periods, so
    // every run holds one maintenance per `maintainEvery` cycles.
    while (!ctx.timing || (cycle - warmCycles) % maintainEvery != 0 ||
           System.nanoTime() - t0 < (seconds * 1e9).toLong) {
      if (cycle == warmCycles) { ctx.startTiming(); t0 = System.nanoTime() }
      val c = gen.next()
      var cycleNs = 0L
      val df = frame(ctx, rows(c.upsert), schema)
      cycleNs += ctx.op("upsert")(ctx.tracer.span("loader.loadBatches", "loader")(
        loader.loadData(df, ident, Some(upsertCfg)))) { res =>
        if (res.rowsLoaded == c.upsert.size) None
        else Some(s"upsert loaded ${res.rowsLoaded} of ${c.upsert.size} rows")
      }
      put(c.upsert)
      if (ctx.timing) { ctx.rowsWritten += c.upsert.size; ctx.count("loader.rows", c.upsert.size.toDouble) }
      ctx.afterWrite(ident, c.upsert.size)
      for (k <- c.lookups) {
        ctx.beforeRead(ident, Some(s"key = ${k}L"))
        cycleNs += ctx.op("lookup")(ctx.query(s"SELECT val, ver FROM graft.$ns.kv WHERE key = ${k}L")) { rs =>
          val got = rs.map(r => (r.getLong(0), r.getInt(1))).toSeq
          if (got == model.get(k).toSeq) None else Some(s"key $k: got $got, expected ${model.get(k)}")
        }
      }
      val (lo, hi) = c.range
      ctx.beforeRead(ident, Some(s"key >= ${lo}L AND key < ${hi}L"))
      cycleNs += ctx.op("range")(ctx.query(
        s"SELECT count(*), coalesce(sum(val), 0) FROM graft.$ns.kv WHERE key >= ${lo}L AND key < ${hi}L")) { rs =>
        val slice = model.range(lo, hi)
        val want = (slice.size.toLong, slice.valuesIterator.map(_._1).sum)
        val got = (rs.head.getLong(0), rs.head.getLong(1))
        if (got == want) None else Some(s"range [$lo,$hi): got $got, expected $want")
      }
      for ((a, b, recs) <- c.replace) {
        val df = frame(ctx, rows(recs), schema)
        val cfg = LoaderConfig(writeMode = WriteMode.Append,
          replaceFilter = Some(s"key >= ${a}L AND key < ${b}L"))
        cycleNs += ctx.op("maintain") {
          ctx.tracer.span("loader.replace", "loader")(loader.loadData(df, ident, Some(cfg)))
          val t = ctx.cat.load(ident)
          ctx.tracer.span("table.expire_snapshots", "table")(t.expireSnapshots(keepLast = 3))
          ctx.tracer.span("table.compact", "table")(t.compact(targetFiles = 1))
        } { snap => if (snap.rowCount == model.size - model.range(a, b).size + recs.size) None
                    else Some(s"compacted table holds ${snap.rowCount} rows") }
        model.range(a, b).keys.toSeq.foreach(model.remove)
        put(recs)
        if (ctx.timing) { ctx.rowsWritten += recs.size; ctx.count("loader.rows", recs.size.toDouble) }
        ctx.afterWrite(ident, recs.size, prefix = "maintain")
      }
      if (ctx.timing) ctx.cycles.add(cycleNs / 1e6)
      cycle += 1
    }
  }

  def verify(ctx: Ctx): Unit = {
    val got = ctx.spark.sql(s"SELECT key, val, ver FROM graft.$ns.kv").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    ctx.expect("verify", got.size == model.size && got == model.toMap,
      s"table holds ${got.size} keys, model ${model.size}")
  }
}

/** A merge-on-read fact table with a dimension, two incremental MVs
  * over it (grouped SUM/COUNT/MIN/MAX, and a fact-dim join aggregate),
  * and a cycle of INSERT, key-range DELETE, a refresh of both views and
  * point reads of both. Every cycle deletes, so every cycle issues the
  * same statements and a run's mix does not depend on how many cycles
  * fit in it.
  */
final class MvRefresh(seed: Long, smoke: Boolean) extends Workload(seed, smoke) {
  val name = "mv_refresh"
  val writeKind = "refresh"
  val readKind = "mv_read"
  private val seedFact = if (smoke) 1000 else 20000
  private val insertRows = if (smoke) 50 else 500
  private val deleteWidth = if (smoke) 20 else 200
  private val groups = 32
  private val dims = 16
  private val aggReads = 6
  private val joinReads = 2
  private val warmCycles = 2

  private type Fact = (Long, String, Int, Double)
  private def fact(r: SplittableRandom, id: Long): Fact =
    (id, s"g${r.nextInt(groups)}", r.nextInt(dims), (r.nextInt(2001) - 1000).toDouble)
  private val dimRows: Seq[(Int, String)] = (0 until dims).map(d => (d, s"r${d % 4}"))

  final case class Cycle(insert: IndexedSeq[Fact], delete: (Long, Long),
                         aggGroups: IndexedSeq[String], joinRegions: IndexedSeq[String])

  /** Generates the fact rows and cycles, and keeps the live fact rows:
    * the model the views are checked against.
    */
  final class Gen {
    private val r = rng(2L)
    var nextId = 0L
    val alive = mutable.LongMap.empty[Fact]
    def rows(n: Int): IndexedSeq[Fact] = (0 until n).map { _ =>
      val f = fact(r, nextId); alive(nextId) = f; nextId += 1; f
    }
    /** Insert rows, a delete range [lo, hi) of ids, the groups read
      * from `m_agg` and the regions read from `m_join`. The range always
      * holds the row with the largest `v` of a random group, so every
      * m_agg refresh retracts a MAX and recomputes it; a random range
      * would do so on about half the cycles and make refresh time bimodal.
      */
    def next(): Cycle = {
      val ins = rows(insertRows)
      val g = s"g${r.nextInt(groups)}"
      val top = alive.valuesIterator.filter(_._2 == g)
        .reduceOption((a, b) => if (b._4 > a._4 || (b._4 == a._4 && b._1 < a._1)) b else a)
      val lo = math.max(0L, top.map(_._1).getOrElse(0L) - r.nextInt(deleteWidth))
      (lo until lo + deleteWidth).foreach(alive.remove)
      Cycle(ins, (lo, lo + deleteWidth), IndexedSeq.fill(aggReads)(s"g${r.nextInt(groups)}"),
        IndexedSeq.fill(joinReads)(s"r${r.nextInt(4)}"))
    }
  }

  def inputText(units: Int): Iterator[String] = {
    val g = new Gen
    dimRows.iterator.map(_.toString) ++ g.rows(seedFact).iterator.map(_.toString) ++
      Iterator.fill(units)(g.next().toString)
  }

  private var ns = ""
  def mainTable: TableIdent = TableIdent(ns, "fact")
  private def storage(mv: String) = TableIdent(ns, mv + graft.connector.GraftMaterializedView.StorageSuffix)
  private val gen = new Gen
  private def alive = gen.alive

  private val factSchema = StructType(Seq(
    StructField("id", LongType, nullable = false), StructField("g", StringType),
    StructField("d", IntegerType), StructField("v", DoubleType)))

  private def aggSql(ns: String) =
    s"SELECT g, SUM(v) AS s, COUNT(*) AS n, MIN(v) AS mn, MAX(v) AS mx FROM graft.$ns.fact GROUP BY g"
  private def joinSql(ns: String) =
    s"SELECT region, SUM(v) AS s, COUNT(*) AS n FROM graft.$ns.fact JOIN graft.$ns.dim ON d = dk GROUP BY region"

  private def expectedAgg: Map[String, (Double, Long, Double, Double)] =
    alive.values.groupBy(_._2).map { case (g, fs) =>
      val vs = fs.map(_._4)
      g -> ((vs.sum, vs.size.toLong, vs.min, vs.max))
    }
  private def expectedJoin: Map[String, (Double, Long)] = {
    val region = dimRows.toMap
    alive.values.groupBy(f => region(f._3)).map { case (g, fs) => g -> ((fs.map(_._4).sum, fs.size.toLong)) }
  }

  private def view(ctx: Ctx, name: String, rows: Seq[Fact]): String = {
    frame(ctx, rows.map { case (a, b, c, d) => Row(a, b, c, d) }, factSchema).createOrReplaceTempView(name)
    name
  }

  def setup(ctx: Ctx, ns0: String): Unit = {
    ns = ns0
    val spark = ctx.spark
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS graft.$ns")
    spark.sql(s"CREATE TABLE graft.$ns.fact (id BIGINT, g STRING, d INT, v DOUBLE) " +
      "TBLPROPERTIES ('graft.delete.mode' = 'mor')")
    spark.sql(s"CREATE TABLE graft.$ns.dim (dk INT, region STRING)")
    spark.sql(s"INSERT INTO graft.$ns.dim VALUES " +
      dimRows.map { case (d, r) => s"($d, '$r')" }.mkString(", "))
    val seedRows = gen.rows(seedFact)
    spark.sql(s"INSERT INTO graft.$ns.fact SELECT * FROM ${view(ctx, "pb_seed", seedRows)}")
    for ((mv, sql) <- Seq("m_agg" -> aggSql(ns), "m_join" -> joinSql(ns))) {
      val mode = spark.sql(s"CALL graft.system.create_mview('$ns', '$mv', '$sql')").head.getString(0)
      require(mode == "incremental", s"$mv created in mode $mode")
    }
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    ctx.watch(mainTable)
    var cycle = 0
    var t0 = 0L
    while (!ctx.timing || System.nanoTime() - t0 < (seconds * 1e9).toLong) {
      if (cycle == warmCycles) { ctx.startTiming(); t0 = System.nanoTime() }
      val c = gen.next()
      val (ins, (lo, hi)) = (c.insert, c.delete)
      val v = view(ctx, "pb_batch", ins)
      var cycleNs = ctx.op("insert")(ctx.command(s"INSERT INTO graft.$ns.fact SELECT * FROM $v"))(_ => None)
      if (ctx.timing) ctx.rowsWritten += ins.size
      ctx.afterWrite(mainTable, ins.size)
      cycleNs += ctx.op("delete")(ctx.command(
        s"DELETE FROM graft.$ns.fact WHERE id >= ${lo}L AND id < ${hi}L"))(_ => None)
      ctx.afterWrite(mainTable, 0L)
      // One operation refreshes both views: the step after which a
      // reader sees the new base data. Their costs differ (MIN/MAX
      // retraction on m_agg), so per-view samples would be bimodal.
      val views = Seq("m_agg", "m_join")
      cycleNs += ctx.op("refresh")(views.map { mv =>
        ctx.tracer.span("connector.refresh_mview", "connector")(
          ctx.command(s"CALL graft.system.refresh_mview('$ns', '$mv', false)")).head.getString(2)
      }) { actions =>
        if (ctx.timing) {
          ctx.count("connector.refreshes", actions.size.toDouble)
          ctx.count("connector.refreshes_incremental", actions.count(_ == "incremental").toDouble)
        }
        views.zip(actions).collectFirst { case (mv, a) if a != "incremental" => s"$mv refresh action '$a'" }
      }
      val (agg, join) = (expectedAgg, expectedJoin)
      for (g <- c.aggGroups) {
        ctx.beforeRead(storage("m_agg"), Some(s"g = '$g'"))
        cycleNs += ctx.op("mv_read")(ctx.query(s"SELECT s, n, mn, mx FROM graft.$ns.m_agg WHERE g = '$g'")) { rs =>
          val got = rs.map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
          if (got == agg.get(g).toSeq) None else Some(s"m_agg[$g]: got $got, expected ${agg.get(g)}")
        }
      }
      for (region <- c.joinRegions) {
        ctx.beforeRead(storage("m_join"), Some(s"region = '$region'"))
        cycleNs += ctx.op("mv_read")(ctx.query(s"SELECT s, n FROM graft.$ns.m_join WHERE region = '$region'")) { rs =>
          val got = rs.map(r => (r.getDouble(0), r.getLong(1))).toSeq
          if (got == join.get(region).toSeq) None else Some(s"m_join[$region]: got $got, expected ${join.get(region)}")
        }
      }
      if (ctx.timing) ctx.cycles.add(cycleNs / 1e6)
      cycle += 1
    }
  }

  def verify(ctx: Ctx): Unit = {
    val r = ctx.spark.sql(s"SELECT count(*), coalesce(sum(id), 0), coalesce(sum(v), 0) FROM graft.$ns.fact").head
    val want = (alive.size.toLong, alive.keysIterator.sum, alive.valuesIterator.map(_._4).sum)
    ctx.expect("verify", (r.getLong(0), r.getLong(1), r.getDouble(2)) == want,
      s"fact table (rows, id sum, v sum) = ${(r.getLong(0), r.getLong(1), r.getDouble(2))}, expected $want")
    val agg = ctx.spark.sql(s"SELECT g, s, n, mn, mx FROM graft.$ns.m_agg").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    ctx.expect("verify", agg == expectedAgg, s"m_agg differs from model (${agg.size} groups)")
    val join = ctx.spark.sql(s"SELECT region, s, n FROM graft.$ns.m_join").collect()
      .map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    ctx.expect("verify", join == expectedJoin, s"m_join differs from model (${join.size} regions)")
  }
}
