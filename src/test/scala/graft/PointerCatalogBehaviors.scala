package graft

import graft.meta.Schema
import graft.table.{CatalogStore, FileIO}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Checks every pointer catalog must pass. The JDBC, REST and Hive catalogs
  * share one drop/commit path, so each spec runs these against its own
  * catalog instead of keeping a copy. */
trait PointerCatalogBehaviors { this: AnyFunSuite =>

  def spark: SparkSession

  /** For raw pointer writes whose schema does not matter to the check. */
  protected val anySchema: Schema = Schema(new StructType())

  /** `catalog` registers the catalog and names it; its warehouse is
    * `$base/wh` and `store` is an independent client of its pointer store. */
  def objectStoreDropPurges(catalog: => String, base: => String,
      io: => FileIO, store: => CatalogStore): Unit =
    test("DROP of an object-store-layout table purges the hashed files") {
      val c = catalog
      val bucket = s"$base/objbucket"
      spark.sql(s"CREATE TABLE $c.db.objdrop (k INT) TBLPROPERTIES (" +
        "'write.object-storage.enabled' = 'true', " +
        s"'write.object-storage.path' = '$bucket')")
      spark.sql(s"INSERT INTO $c.db.objdrop VALUES (1), (2)")
      assert(io.listRecursive(bucket).nonEmpty, "files should land in the bucket")
      spark.sql(s"DROP TABLE $c.db.objdrop")
      assert(store.getPointer("db", "objdrop").isEmpty)
      assert(io.listRecursive(bucket).isEmpty,
        "hashed data files must not leak after DROP")
      assert(!io.exists(s"$base/wh/db/objdrop"))
    }
}
