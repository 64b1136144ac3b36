package perfbench

import scala.collection.mutable

import graft.meta.{PartitionSpec, Schema}
import graft.meta.expr.Exprs
import graft.table.{IceTable, Maintenance}

import org.apache.spark.sql.functions._

/** Row-level changes on lineitem keyed by `(l_orderkey, l_linenumber)`:
  * copy-on-write MERGE (update matched, insert unmatched), merge-on-read
  * DELETE, UPDATE and equality deletes, in a seeded order, each followed by
  * a checked read; every `MaintainEvery` changes, position deletes become
  * deletion vectors, data files are compacted, snapshots expired and orphan
  * files removed. Writes, shuffles and delete files dominate. */
object RowUpdate extends Workload {
  val name = "row_update"
  val primary = "rowop"
  val Orders = 5000
  val MaintainEvery = 8
  val Keys = Seq("l_orderkey", "l_linenumber")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val (_, lines) = Data.lines(ctx.rnd, 1L, Orders)
    def build(): IceTable = {
      val schema = Schema.fresh(Data.lineSchema)
      val t = ctx.create("lineitem", schema,
        PartitionSpec.builderFor(schema).year("l_shipdate").build())
      t.setIdentifierFields(Keys)
      t.append(Data.lineFrame(spark, lines))
      t
    }
    val t = ctx.setup(build())
    ctx.userBytes = lines.map(_.logicalBytes).sum
    val name = ctx.sqlName(t)
    val r = ctx.rnd
    // the expected table contents, changed alongside every operation
    val model = mutable.LinkedHashMap[(Long, Int), Line]()
    lines.foreach(l => model(l.key) = l)
    var nextKey = Orders + 1L

    /** (count, sum(price), checksum of quantity and discount). */
    def expected(): Data.Agg = {
      var c, p, q = 0L
      model.valuesIterator.foreach { l => c += 1; p += l.price; q += l.quantity * 16L + l.discount }
      Data.Agg(c, p, q)
    }
    def checkedRead(after: String): Unit = {
      val want = expected()
      ctx.op("scan", "checked_read")(Data.agg(spark.sql(
        s"SELECT count(*), sum(l_price), sum(l_quantity * 16 + l_discount) FROM $name")
        .collect()(0)))(got => Data.check(s"table after $after", want, got))
    }
    def liveKeys(n: Int): Seq[(Long, Int)] = {
      val keys = model.keysIterator.toIndexedSeq
      Seq.fill(n)(keys(r.nextInt(keys.size))).distinct
    }
    def keyRange(width: Int): (Long, Long) = {
      val a = 1L + r.nextInt((nextKey - 1).toInt)
      (a, a + width)
    }
    def inRange(a: Long, b: Long)(k: (Long, Int)) = k._1 >= a && k._1 < b

    def merge(): Unit = {
      val updates = liveKeys(200).map { k =>
        val l = model(k)
        l.copy(quantity = l.quantity % 50 + 1, price = l.price + 100)
      }
      val (_, fresh) = Data.lines(r, nextKey, 12)
      val src = updates ++ fresh
      if (ctx.op("rowop", "cow_merge", rowsChanged = src.size)(
          t.merge(Data.lineFrame(spark, src), Keys)
            .whenMatchedUpdateAll().whenNotMatchedInsertAll().execute())(_ => None)) {
        nextKey += 12
        src.foreach(l => model(l.key) = l)
        ctx.userBytes += src.map(_.logicalBytes).sum
      }
    }
    def morDelete(): Unit = {
      val (a, b) = keyRange(40)
      val gone = model.keysIterator.filter(inRange(a, b)).toSeq
      if (ctx.op("rowop", "mor_delete", rowsChanged = gone.size)(t.deleteMergeOnRead(
          Exprs.and(Exprs.greaterThanOrEqual("l_orderkey", a), Exprs.lessThan("l_orderkey", b))))(
          _ => None)) {
        gone.foreach(model.remove)
        ctx.userBytes += 12L * gone.size
      }
    }
    def update(): Unit = {
      val (a, b) = keyRange(40)
      val hit = model.keysIterator.filter(inRange(a, b)).toSeq
      val d = r.nextInt(11)
      if (ctx.op("rowop", "update", rowsChanged = hit.size)(t.update(
          Exprs.and(Exprs.greaterThanOrEqual("l_orderkey", a), Exprs.lessThan("l_orderkey", b)),
          Map("l_discount" -> lit(d))))(_ => None)) {
        hit.foreach(k => model(k) = model(k).copy(discount = d))
        ctx.userBytes += hit.map(model(_).logicalBytes).sum
      }
    }
    def eqDelete(): Unit = {
      val gone = liveKeys(60)
      if (ctx.op("rowop", "eq_delete", rowsChanged = gone.size)(
          t.addEqualityDeletes(gone.toDF("l_orderkey", "l_linenumber"), Keys))(_ => None)) {
        gone.foreach(model.remove)
        ctx.userBytes += 12L * gone.size
      }
    }
    def maintain(): Unit = {
      ctx.op("maint", "maintenance") {
        ctx.tracer.span("maint.convert_deletes", "maint")(Maintenance.convertPositionDeletes(t))
        ctx.tracer.span("maint.compact", "maint")(t.rewriteDataFiles())
        ctx.tracer.span("maint.expire", "maint")(
          t.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
        ctx.tracer.span("maint.orphan", "maint")(t.removeOrphanFiles(System.currentTimeMillis()))
      }(_ => None)
      checkedRead("maintenance")
    }

    val kinds: Seq[() => Unit] = Seq(() => merge(), () => morDelete(), () => update(),
      () => eqDelete())
    // warm-up: each change once, checked but not timed
    kinds.foreach { k => k(); checkedRead("warm-up") }
    var cycle = Seq.empty[() => Unit]
    ctx.loop { i =>
      if (i % kinds.size == 0) cycle = ctx.shuffle(kinds)
      cycle(i % kinds.size)()
      checkedRead("change")
      if ((i + 1) % MaintainEvery == 0) maintain()
      if ((i + 1) % kinds.size == 0) ctx.cycleEnd()
    }
    // storage is compared after a last maintenance run, so it does not
    // depend on where in the maintenance cycle the loop happened to stop
    maintain()
    ctx.recordHeap()
  }
}
