package perfbench

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs
import graft.meta.model.TableProperties
import graft.table.IceTable

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Read-only mix over partitioned lineitem/orders tables and a
  * merge-on-read copy of lineitem that carries position deletes, deletion
  * vectors and an equality delete. Executor scan and delete application do
  * most of the work; nothing is written in the loop. */
object AnalyticRead extends Workload {
  val name = "analytic_read"
  val primary = "scan"
  val Orders = 12000

  /** A checked read: the grouped (count, sum(price), sum(quantity)) result
    * and the plan a traced run replays (table, filter) outside the timer. */
  final case class Query(kind: String, run: () => Seq[(String, Data.Agg)],
      expected: Seq[(String, Data.Agg)], plan: Option[(IceTable, String)])

  final class Tables(val li: IceTable, val ord: IceTable, val mor: IceTable,
      val preDeleteSnapshot: Long)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val (orders, lines) = Data.lines(ctx.rnd, 1L, Orders)
    val eqKeys: Set[Long] = {
      val r = new java.util.Random(ctx.seed * 31 + 7)
      (1 to Orders / 100).map(_ => 1L + r.nextInt(Orders)).toSet
    }
    def deleted(l: Line): Boolean =
      l.quantity <= 2 || (l.discount == 7 && l.returnflag == "R") || eqKeys(l.orderkey)
    val live = lines.filterNot(deleted)

    def build(): Tables = {
      val liSchema = Schema.fresh(Data.lineSchema)
      val spec = PartitionSpec.builderFor(liSchema).year("l_shipdate").build()
      val li = ctx.create("lineitem", liSchema, spec)
      li.append(Data.lineFrame(spark, lines))
      val ordSchema = Schema.fresh(Data.orderSchema)
      val ord = ctx.create("orders", ordSchema, PartitionSpec.unpartitioned)
      ord.append(Data.orderFrame(spark, orders))
      // the first delete writes deletion vectors, the second parquet
      // position deletes
      val mor = ctx.create("lineitem_mor", liSchema, spec,
        Map(TableProperties.DeleteVectors -> "true"))
      mor.append(Data.lineFrame(spark, lines))
      val s0 = mor.currentSnapshot.get.snapshotId
      mor.deleteMergeOnRead(Exprs.lessThanOrEqual("l_quantity", 2))
      mor.updateProperties(Map(TableProperties.DeleteVectors -> "false"))
      mor.deleteMergeOnRead(Exprs.and(Exprs.equalTo("l_discount", 7),
        Exprs.equalTo("l_returnflag", "R")))
      import spark.implicits._
      mor.addEqualityDeletes(eqKeys.toSeq.sorted.toDF("l_orderkey"), Seq("l_orderkey"))
      new Tables(li, ord, mor, s0)
    }
    val t = ctx.setup(build())
    ctx.userBytes = 2 * lines.map(_.logicalBytes).sum + orders.map(_.logicalBytes).sum

    val li = ctx.sqlName(t.li)
    val ord = ctx.sqlName(t.ord)
    val mor = ctx.sqlName(t.mor)
    val priority = orders.map(o => o.orderkey -> o.priority).toMap
    def sqlAgg(from: String, where: String): Seq[(String, Data.Agg)] =
      Seq("" -> Data.agg(spark.sql(
        s"SELECT count(*), sum(l_price), sum(l_quantity) FROM $from WHERE $where")
        .collect()(0)))
    def refAgg(rows: Seq[Line])(p: Line => Boolean): Seq[(String, Data.Agg)] =
      Seq("" -> Data.agg(rows.filter(p)))
    val r = ctx.rnd
    // windows lie inside the data, so every instance of a kind reads a
    // similar number of rows whatever the seed draws
    def day(span: Int): Int = Data.Epoch0 + 121 + r.nextInt(Data.DaySpan - 121 - span)
    def key(width: Int = 0): Long = 1L + r.nextInt(Orders - width)

    def full() = Query("full_scan", () => sqlAgg(li, "true"), refAgg(lines)(_ => true),
      Some((t.li, "true")))
    def point() = {
      val k = key()
      Query("point_read", () => sqlAgg(li, s"l_orderkey = $k"),
        refAgg(lines)(_.orderkey == k), Some((t.li, s"l_orderkey = $k")))
    }
    def keyRange() = {
      val a = key(400); val b = a + 400
      val f = s"l_orderkey >= $a AND l_orderkey <= $b"
      Query("key_range_read", () => sqlAgg(li, f),
        refAgg(lines)(l => l.orderkey >= a && l.orderkey <= b), Some((t.li, f)))
    }
    def dateRange() = {
      val d = day(90); val e = d + 90
      val f = s"l_shipdate >= DATE'${Data.date(d)}' AND l_shipdate < DATE'${Data.date(e)}'"
      Query("date_range_read", () => sqlAgg(li, f),
        refAgg(lines)(l => l.shipdate >= d && l.shipdate < e), Some((t.li, f)))
    }
    def join() = {
      val d = day(365); val e = d + 365
      val f = s"l_shipdate >= DATE'${Data.date(d)}' AND l_shipdate < DATE'${Data.date(e)}'"
      val expected = lines.filter(l => l.shipdate >= d && l.shipdate < e)
        .groupBy(l => priority(l.orderkey)).map { case (p, ls) => p -> Data.agg(ls) }
        .toSeq.sortBy(_._1)
      Query("join_agg", () => spark.sql(
        s"""SELECT o_orderpriority, count(*), sum(l_price), sum(l_quantity)
           |FROM $li JOIN $ord ON l_orderkey = o_orderkey WHERE $f
           |GROUP BY o_orderpriority""".stripMargin).collect()
        .map((row: Row) => row.getString(0) -> Data.agg(Row(row.get(1), row.get(2), row.get(3))))
        .toSeq.sortBy(_._1), expected, Some((t.li, f)))
    }
    def morSql() = {
      val d = day(365); val e = d + 365
      val f = s"l_shipdate >= DATE'${Data.date(d)}' AND l_shipdate < DATE'${Data.date(e)}'"
      Query("mor_sql_read", () => sqlAgg(mor, f),
        refAgg(live)(l => l.shipdate >= d && l.shipdate < e), Some((t.mor, f)))
    }
    def morApi() = {
      val d = day(365); val e = d + 365
      val f = s"l_shipdate >= DATE'${Data.date(d)}' AND l_shipdate < DATE'${Data.date(e)}'"
      Query("mor_api_read", () => Seq("" -> Data.agg(t.mor.newScan().filter(f).toDF
          .agg(count(lit(1)), sum("l_price"), sum("l_quantity")).collect()(0))),
        refAgg(live)(l => l.shipdate >= d && l.shipdate < e), Some((t.mor, f)))
    }
    def timeTravel() = {
      val a = key(2000); val b = a + 2000
      val f = s"l_orderkey >= $a AND l_orderkey <= $b"
      Query("time_travel_read",
        () => sqlAgg(s"$mor VERSION AS OF ${t.preDeleteSnapshot}", f),
        refAgg(lines)(l => l.orderkey >= a && l.orderkey <= b), None)
    }
    val kinds: Seq[() => Query] = Seq(() => full(), () => point(), () => keyRange(),
      () => dateRange(), () => join(), () => morSql(), () => morApi(), () => timeTravel())

    def runQuery(q: Query): Unit = {
      val ok = ctx.op("scan", q.kind)(q.run())(got => Data.check("result", q.expected, got))
      if (ok) q.plan.foreach { case (tbl, f) => Shadow.plan(ctx, tbl, f) }
    }
    // warm-up: every kind once, checked but not timed
    kinds.foreach(k => runQuery(k()))
    // each cycle runs every kind once, in a seeded order, with fresh
    // parameters; the reference is computed before the timed call
    var cycle = Seq.empty[() => Query]
    ctx.loop { i =>
      if (i % kinds.size == 0) cycle = ctx.shuffle(kinds)
      runQuery(cycle(i % kinds.size)())
      if ((i + 1) % kinds.size == 0) ctx.cycleEnd()
    }
    ctx.recordHeap()

    // ROADMAP item 1: a Scala-API read whose projection drops the
    // equality-delete key. Kept out of the measured loop because it fails
    // on the engine this benchmark was written against; reported as a known
    // defect with its outcome.
    val expectLive = Data.agg(live)
    val probe = scala.util.Try(t.mor.newScan().select("l_quantity").toDF
      .agg(count(lit(1)), sum("l_quantity")).collect()(0))
    ctx.knownDefects += (probe match {
      case scala.util.Success(row) =>
        val got = (row.getLong(0), row.getLong(1))
        val ok = got == ((expectLive.count, expectLive.qty))
        ("mor_api_projection_drops_eq_delete_key", ok,
          if (ok) "passes" else s"expected ${(expectLive.count, expectLive.qty)}, got $got")
      case scala.util.Failure(e) =>
        ("mor_api_projection_drops_eq_delete_key", false,
          e.getClass.getSimpleName + ": " +
            String.valueOf(e.getMessage).linesIterator.take(1).mkString.take(200))
    })
  }
}
