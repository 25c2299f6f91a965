package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.EtlMain
import graft.etl.{IncrementalBackup, JobConfig, StatusStore, YamlConfig}
import graft.sources.IngestLog

/** Sizes of one run. Months are calendar months from 1995-01; the orders
  * lake holds `ordersHistory` months before the first wave lands.
  */
final case class Profile(ordersHistory: Int, lineitemMonths: Int, waves: Int,
    rounds: Int, backfills: Int, ordersPerMonth: Int, lineitemPerMonth: Int,
    customers: Int, checkpointEvery: Int)

object Profile {
  /** Drains per manifest cycle: journaled drains, then one reconciliation. */
  val CheckpointEvery = 4

  /** The smallest inputs: the benchmark's own tests, and warm-up. */
  val Tiny = Profile(2, 2, 2, 2, 1, 200, 800, 500, 2)

  def of(workload: String, seconds: Int, tiny: Boolean): Profile =
    if (tiny) Tiny
    else {
      val base = Profile(ordersHistory = 3, lineitemMonths = 1, waves = 3,
        rounds = 7, backfills = 1, ordersPerMonth = 1500, lineitemPerMonth = 6000,
        customers = 5000, checkpointEvery = CheckpointEvery)
      workload match {
        // first loads of 13 partitions on fresh roots, ~16 s each at 4 cores
        case "backfill" => base.copy(ordersHistory = 6, lineitemMonths = 6,
          backfills = math.max(1, seconds / 20))
        // whole manifest cycles, ~14 s each at 4 cores
        case "steady" => base.copy(waves = CheckpointEvery * math.max(1, seconds / 16))
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
}

/** One closed-loop client driving the program's public entry points
  * through the reference deployment's life: a first load (`EtlMain.run`
  * over a journaled orders lake, a monthly lineitem relation and a
  * customer snapshot), steady-state waves of one orders month each, each
  * drained by `IncrementalBackup.runPrunedIncremental`, then read-back
  * queries over `IncrementalBackup.readBack()`, a round after each drain
  * and the rest at the end. Every workload runs every phase, so every
  * metric exists on each; the workload sets the phases' sizes ([[Profile]]).
  * Every output is checked against the generated source.
  */
final class Lifecycle(spark: SparkSession, work: String, seed: Long,
    p: Profile) {

  final case class Op(id: Long, kind: String, phase: String, start: Long,
      end: Long, ok: Boolean, units: Int, info: Map[String, Any])

  val ops = ArrayBuffer.empty[Op]
  val setupSeconds = ArrayBuffer.empty[Double]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  val extra = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  private def fail(what: String, n: Int = 1): Unit = {
    failed += n
    if (failures.size < 50) failures += what
  }

  /** Time one operation of `units` attempted units (partitions, drains,
    * queries); a throw fails all of them. `info` is filled by the body.
    */
  private def op[T](kind: String, phase: String, units: Int)(
      f: scala.collection.mutable.Map[String, Any] => T): Option[T] = {
    val id = ops.size + 1L
    val info = scala.collection.mutable.Map.empty[String, Any]
    attempted += units
    val s = System.nanoTime()
    val r =
      try Some(Trace.span(kind, op = id)(f(info)))
      catch {
        case NonFatal(e) =>
          fail(s"$kind: $e", math.max(units, 1))
          if (units == 0) attempted += 1
          None
      }
    ops += Op(id, kind, phase, s, System.nanoTime(), r.isDefined, units, info.toMap)
    r
  }

  // ---------------------------------------------------------------- inputs

  final class Inputs(val dir: String, p: Profile) {
    val in = s"$dir/in"
    val lake = s"$dir/lake"
    val stage = s"$dir/stage"
    val yamls: Seq[String] = Seq("orders", "lineitem", "customer").map(t => s"$in/$t.yaml")
    val orders: IndexedSeq[Gen.Order] = Gen.orders(seed,
      p.ordersHistory + p.waves, p.ordersPerMonth, p.customers)
    val lineitem: IndexedSeq[Gen.Line] = Gen.lineitem(seed, p.lineitemMonths,
      p.lineitemPerMonth, orders.size.toLong)
    val customer: IndexedSeq[Gen.Cust] = Gen.customer(seed, p.customers)
  }

  private def staged(inp: Inputs, month: Long): String =
    s"${inp.stage}/m$month-part-00000.parquet"

  /** Move one staged orders month into the lake; returns the landed file. */
  private def land(inp: Inputs, month: Long): Seq[String] = {
    val dst = Paths.get(inp.lake, s"m$month-part-00000.parquet")
    Files.move(Paths.get(staged(inp, month)), dst)
    Seq(dst.toString)
  }

  /** Generate and write every input at `sizes`, land and journal the
    * orders history.
    */
  def setup(dir: String, sizes: Profile = p): Inputs = {
    val inp = new Inputs(dir, sizes)
    Gen.writeLineitem(s"${inp.in}/lineitem.parquet/part-00000.parquet", inp.lineitem)
    Gen.writeCustomer(s"${inp.in}/customer.parquet/part-00000.parquet", inp.customer)
    inp.orders.groupBy(o => Gen.pidOf(o.date)).foreach { case (m, rows) =>
      Gen.writeOrders(staged(inp, m), rows)
    }
    Files.createDirectories(Paths.get(inp.lake))
    (0 until sizes.ordersHistory).foreach { i =>
      IngestLog.record(spark, inp.lake, land(inp, Gen.monthAt(i)))
    }
    Files.writeString(Paths.get(inp.yamls(0)),
      s"LAKE_PATH : '${inp.lake}'\nPRUNED : 'true'\n" +
        s"MANIFEST_CHECKPOINT_EVERY : ${sizes.checkpointEvery}\n")
    Files.writeString(Paths.get(inp.yamls(1)), "PRIMARY_ID : 'month_sid'\n")
    Files.writeString(Paths.get(inp.yamls(2)), "PRIMARY_ID : ''\n")
    inp
  }

  // ---------------------------------------------------------------- checks

  private def dec(c: String): Column = col(c).cast(DecimalType(15, 2))
  private def money(cents: Long) = java.math.BigDecimal.valueOf(cents, 2)

  /** A result row with integral values as Long and decimals at scale 2. */
  private def norm(r: Row): Seq[Any] = r.toSeq.map {
    case n: java.lang.Integer => n.longValue
    case d: java.math.BigDecimal => d.setScale(2)
    case other => other
  }

  private def checkEqual(what: String, got: Seq[Seq[Any]], want: Seq[Seq[Any]]): Unit =
    if (got != want) fail(s"$what: read back $got, source $want")

  /** The backup under `root` against the generated rows, per table and
    * month: row count and exact sum of the money column. `orderMonths`
    * orders months have been backed up; lineitem and customer are whole.
    */
  private def checkBackup(inp: Inputs, root: String, orderMonths: Int): Unit =
    op("check.backup", "check", 0) { _ =>
      def perPid(t: String, c: String) =
        spark.read.format("orc").load(s"$root/data/$t").groupBy("pid")
          .agg(count(lit(1)), sum(dec(c))).orderBy("pid").collect().toSeq.map(norm)
      def want[T](rows: Seq[T], pid: T => Long, cents: T => Long) =
        rows.groupBy(pid).toSeq.sortBy(_._1).map { case (m, rs) =>
          Seq(m, rs.size.toLong, money(rs.map(cents).sum)) }
      val months = (0 until orderMonths).map(Gen.monthAt).toSet
      checkEqual("orders per month", perPid("orders", "o_totalprice"),
        want[Gen.Order](inp.orders.filter(o => months(Gen.pidOf(o.date))),
          o => Gen.pidOf(o.date), _.cents))
      checkEqual("lineitem per month", perPid("lineitem", "l_extendedprice"),
        want[Gen.Line](inp.lineitem, l => Gen.pidOf(l.ship), _.cents))
      checkEqual("customer snapshot", perPid("customer", "c_acctbal"),
        want[Gen.Cust](inp.customer, _ => 0L, _.cents))
    }

  // --------------------------------------------------------------- queries

  private lazy val pointMonth: Long =
    Gen.monthAt(new java.util.SplittableRandom(seed).nextInt(p.lineitemMonths))

  /** The three read-back queries over the backed-up (lineitem, orders). */
  private val queries: Seq[(String, (DataFrame, DataFrame) => DataFrame)] = Seq(
    // one month of lineitem, pruned to its partition
    "point" -> ((lineitem, _) => lineitem.filter(col("pid") === lit(pointMonth))
      .agg(count(lit(1)), sum(dec("l_extendedprice")), sum(dec("l_quantity")))),
    // per-month count and sum over orders
    "scan" -> ((_, orders) => orders.groupBy("pid")
      .agg(count(lit(1)), sum(dec("o_totalprice"))).orderBy("pid")),
    // lineitem joined to its orders, by order priority
    "join" -> ((lineitem, orders) =>
      lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)), sum(dec("l_extendedprice")))
        .orderBy("o_orderpriority")))

  /** The queries' answers computed from the generated rows, with the first
    * `orderMonths` orders months backed up.
    */
  private def answers(inp: Inputs, orderMonths: Int): Map[String, Seq[Seq[Any]]] = {
    val orders = inp.orders.take(orderMonths * p.ordersPerMonth)
    val point = inp.lineitem.filter(l => Gen.pidOf(l.ship) == pointMonth)
    val priority = orders.map(o => o.key -> o.priority).toMap
    Map(
      "point" -> Seq(Seq(point.size.toLong, money(point.map(_.cents).sum),
        money(point.map(_.qty * 100L).sum))),
      "scan" -> orders.groupBy(o => Gen.pidOf(o.date)).toSeq.sortBy(_._1)
        .map { case (m, os) => Seq(m, os.size.toLong, money(os.map(_.cents).sum)) },
      "join" -> inp.lineitem.filter(l => priority.contains(l.order))
        .groupBy(l => priority(l.order)).toSeq.sortBy(_._1)
        .map { case (pr, ls) => Seq(pr, ls.size.toLong, money(ls.map(_.cents).sum)) })
  }

  /** One round of the three queries, each timed from opening the backup
    * (its file listing) to the collected result, and checked.
    */
  private def queryRound(phase: String, inp: Inputs, backups: Backups,
      orderMonths: Int): Unit = {
    val want = answers(inp, orderMonths)
    queries.foreach { case (name, q) =>
      op(s"query.$name", phase, 1) { _ =>
        val df = Trace.span("readback.plan") {
          val df = q(backups.lineitem.readBack(), backups.orders.readBack())
          df.queryExecution.executedPlan
          df
        }
        checkEqual(s"query $name", Trace.span("readback.exec")(df.collect()).toSeq.map(norm),
          want(name))
      }
    }
  }

  /** A timed query round; a traced run adds an untraced one beside it,
    * alternating which goes first, for the tracing overhead.
    */
  private def timedRound(slot: Int, inp: Inputs, backups: Backups,
      orderMonths: Int): Unit = {
    val traced = Trace.on
    val phases = if (!traced) Seq("readback")
      else if (slot % 2 == 0) Seq("readback", "untraced") else Seq("untraced", "readback")
    phases.foreach { ph =>
      Trace.on = traced && ph != "untraced"
      queryRound(ph, inp, backups, orderMonths)
    }
    Trace.on = traced
  }

  // ------------------------------------------------------------ lifecycle

  final case class Backups(lineitem: IncrementalBackup, orders: IncrementalBackup)

  private val WarmupRounds = 3

  private def yamlCfg(inp: Inputs, i: Int): JobConfig = YamlConfig.load(inp.yamls(i))._1

  def run(): Unit = {
    val inp = (0 until 3).map { k =>
      val s = System.nanoTime()
      val i = Trace.span("setup")(setup(s"$work/setup-$k"))
      setupSeconds += (System.nanoTime() - s) / 1e9
      i
    }.last

    // an untimed first load of the smallest inputs, so that the timed ones
    // do not pay the JVM's class loading, code generation and JIT warm-up
    op("warmup", "warmup", 0) { _ =>
      val w = setup(s"$work/warmup", Profile.Tiny.copy(checkpointEvery = p.checkpointEvery))
      EtlMain.run(spark, w.in, s"$work/warmup-root", w.yamls)
    }

    // first loads, each on a fresh root
    val roots = (1 to p.backfills).map(r => s"$work/root-$r")
    roots.foreach { root =>
      op("backfill", "backfill", p.ordersHistory + p.lineitemMonths + 1) { info =>
        val line = Trace.span("etl.EtlMain.run")(EtlMain.run(spark, inp.in, root, inp.yamls))
        val copied = "\"(orders|lineitem|customer)\":(-?\\d+)".r.findAllMatchIn(line)
          .map(m => m.group(1) -> m.group(2).toInt).toMap
        val want = Map("orders" -> p.ordersHistory, "lineitem" -> p.lineitemMonths,
          "customer" -> 1)
        if (copied != want) fail(s"backfill copied $copied, want $want")
        info("partitions") = copied.values.filter(_ > 0).sum
      }
      if (root != roots.last) checkBackup(inp, root, p.ordersHistory)
    }
    val root = roots.last
    val data = s"$root/data"
    def backup(i: Int, t: String) = new IncrementalBackup(spark, yamlCfg(inp, i),
      new StatusStore(spark, s"$root/status/$t"), data)
    val job = backup(0, "orders")
    val backups = Backups(backup(1, "lineitem"), job)
    // query latency falls steeply over the first rounds of a fresh JVM
    (1 to WarmupRounds).foreach(_ => queryRound("warmup", inp, backups, p.ordersHistory))

    // steady state: one month lands, is journaled, and is drained; query
    // rounds between drains spread the read-back samples over the run
    (0 until p.waves).foreach { w =>
      val m = Gen.monthAt(p.ordersHistory + w)
      op("land", "steady", 0) { _ =>
        val files = Trace.span("land.move")(land(inp, m))
        Trace.span("journal.record")(IngestLog.record(spark, inp.lake, files))
      }
      op("drain", "steady", 1) { info =>
        val got = Trace.span("etl.runPrunedIncremental")(job.runPrunedIncremental(inp.lake))
        if (got != Seq(m)) fail(s"drain of wave $w returned $got, want List($m)")
        val g = job.gauges
        info("full_listings") = g.fullListings
        info("ckpt_rows_read") =
          math.max(g.discoveryCkptRowsRead, 0L) + math.max(g.copyCkptRowsRead, 0L)
        info("delta_rows_read") =
          math.max(g.discoveryDeltaRows, 0L) + math.max(g.copyDeltaRows, 0L)
      }
      if (w < p.rounds) timedRound(w, inp, backups, p.ordersHistory + w + 1)
    }
    val months = p.ordersHistory + p.waves
    (p.waves until p.rounds).foreach(r => timedRound(r, inp, backups, months))
    checkBackup(inp, root, months)

    val backedUp = Seq("orders", "lineitem", "customer").map(t => s"$data/$t")
    // everything the program keeps at rest: data, manifest log, status store
    extra("stored_bytes") = files(root, dataOnly = false).map(Files.size).sum
    extra("source_bytes") = Seq(s"${inp.in}/lineitem.parquet",
      s"${inp.in}/customer.parquet", inp.lake).map(dataBytes).sum
    extra("dest_files") = backedUp.map(files(_).size).sum
    extra("dest_partitions") = months + p.lineitemMonths + 1
  }

  /** Regular files under `dir`; with `dataOnly`, none under a name that
    * starts with `.` or `_` (checksums, markers, journals).
    */
  private def files(dir: String, dataOnly: Boolean = true): Seq[java.nio.file.Path] = {
    val base = Paths.get(dir)
    val st = Files.walk(base)
    try {
      import scala.jdk.CollectionConverters._
      st.iterator().asScala.filter { f =>
        Files.isRegularFile(f) && (!dataOnly || base.relativize(f).iterator().asScala
          .forall { n => val s = n.toString; !s.startsWith(".") && !s.startsWith("_") })
      }.toList
    } finally st.close()
  }

  /** Bytes of the data files under `dir`. */
  private def dataBytes(dir: String): Long = files(dir).map(Files.size).sum
}
