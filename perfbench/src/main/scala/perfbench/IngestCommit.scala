package perfbench

import scala.collection.mutable.ArrayBuffer

import graft.meta.{PartitionSpec, Schema}
import graft.table.IceTable

import org.apache.spark.sql.functions._

/** One writer appends small time-ordered batches (~2k rows) to a
  * month-partitioned table. Every `ReadEvery`-th commit runs a point read and
  * an incremental read of the appends since the last one; every
  * `MaintainEvery`-th commit rewrites manifests, compacts small files and
  * expires snapshots. Metadata planning and commit dominate; executor work is
  * small. */
object IngestCommit extends Workload {
  val name = "ingest_commit"
  val primary = "append"
  val ReadEvery = 4
  val MaintainEvery = 12

  /** Batch `i`: ~2k rows of three consecutive days, with order keys of its
    * own, so the same seed always yields the same batch. */
  def batch(seed: Long, i: Int): Seq[Line] = {
    val r = new java.util.Random(seed * 1000003L + i)
    val orders = (1500 + r.nextInt(1001)) / 4
    Data.lines(r, 1L + i * 10000L, orders, Data.Epoch0 + i * 3, 3)._2
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val batches = ArrayBuffer(batch(ctx.seed, 0))
    def build(): IceTable = {
      val schema = Schema.fresh(Data.lineSchema)
      val t = ctx.create("events", schema,
        PartitionSpec.builderFor(schema).month("l_shipdate").build())
      t.append(Data.lineFrame(spark, batches(0)))
      t
    }
    val t = ctx.setup(build())
    ctx.userBytes = batches(0).map(_.logicalBytes).sum
    val name = ctx.sqlName(t)
    val r = ctx.rnd
    var total = Data.agg(batches(0))
    var from = t.currentSnapshot.get.snapshotId
    var sinceFrom = ArrayBuffer[Line]()

    def commit(n: Int): Unit = {
      val b = batch(ctx.seed, n)
      batches += b
      val df = Data.lineFrame(spark, b)
      if (ctx.op("append", "append", rowsChanged = b.size)(t.append(df)) { _ =>
        Data.check("added-records", b.size.toLong,
          t.currentSnapshot.get.summary("added-records").toLong)
      }) {
        total = Data.agg(batches.flatten)
        sinceFrom ++= b
        ctx.userBytes += b.map(_.logicalBytes).sum
      }
    }

    def reads(): Unit = {
      val b = batches(r.nextInt(batches.size))
      val k = b(r.nextInt(b.size)).orderkey
      val f = s"l_orderkey = $k"
      val expected = Data.agg(b.filter(_.orderkey == k))
      if (ctx.op("scan", "point_read")(Data.agg(spark.sql(
          s"SELECT count(*), sum(l_price), sum(l_quantity) FROM $name WHERE $f").collect()(0)))(
          got => Data.check("point read", expected, got)))
        Shadow.plan(ctx, t, f)
      val to = t.currentSnapshot.get.snapshotId
      val since = Data.agg(sinceFrom)
      if (ctx.op("scan", "incremental_read")(Data.agg(t.appendsBetween(from, to)
          .agg(count(lit(1)), sum("l_price"), sum("l_quantity")).collect()(0)))(
          got => Data.check("incremental read", since, got)))
        Shadow.incremental(ctx, t, from, to)
      from = to
      sinceFrom = ArrayBuffer()
    }

    def maintain(): Unit = {
      val expected = total
      ctx.op("maint", "maintenance") {
        ctx.tracer.span("maint.rewrite_manifests", "maint")(t.rewriteManifests())
        ctx.tracer.span("maint.compact", "maint")(t.rewriteDataFiles())
        ctx.tracer.span("maint.expire", "maint")(
          t.expireSnapshots(System.currentTimeMillis(), retainLast = 1))
      } { _ =>
        Data.check("table after maintenance", expected, Data.agg(spark.sql(
          s"SELECT count(*), sum(l_price), sum(l_quantity) FROM $name").collect()(0)))
      }
      from = t.currentSnapshot.get.snapshotId
      sinceFrom = ArrayBuffer()
    }

    // warm-up: a commit and the reads, checked but not timed
    commit(1); reads()
    var n = 1
    ctx.loop { _ =>
      n += 1
      commit(n)
      if (n % ReadEvery == 0) { reads(); ctx.cycleEnd() }
      if (n % MaintainEvery == 0) maintain()
    }
    // storage is compared after a last maintenance run, so it does not
    // depend on where in the maintenance cycle the loop happened to stop
    maintain()
    ctx.recordHeap()
  }
}
