package graft

import scala.jdk.CollectionConverters._

import graft.table.{FileIO, HiveCatalogStore, IceTable, PointerTableOperations}

import org.scalatest.funsuite.AnyFunSuite

/** Hive-metastore catalog (ref `hive-metastore/.../HiveCatalog.java`):
  * tables are HMS entries whose parameters carry the metadata pointer, and
  * commits run the reference's lock → re-check → alter protocol. An
  * in-process metastore over embedded Derby (all jars ship with Spark)
  * plays the metastore, locks included — the same client/thrift API a
  * remote deployment would serve. */
class HiveCatalogSpec extends AnyFunSuite with PointerCatalogBehaviors {

  lazy val spark = SparkSessionHelper.spark

  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("graft_hms").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    dir
  }
  private def jdo = s"jdbc:derby:;databaseName=$base/hms_db;create=true"
  private lazy val catalog = {
    spark.conf.set("spark.sql.catalog.hv", "graft.spark.GraftHiveCatalog")
    spark.conf.set("spark.sql.catalog.hv.warehouse", s"$base/wh")
    spark.conf.set("spark.sql.catalog.hv.jdo-uri", jdo)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hv.db")
    "hv"
  }
  private lazy val io = new FileIO(spark.sparkContext.hadoopConfiguration)
  private lazy val store = new HiveCatalogStore(None, Some(jdo), s"$base/wh")

  test("create/insert/select through SQL; pointer lives in HMS parameters") {
    catalog
    spark.sql("CREATE TABLE hv.db.t1 (id BIGINT, name STRING) PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO hv.db.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT * FROM hv.db.t1 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val hms = store.getTable("db", "t1").get
    assert(hms.getParameters.get("table_type") === "GRAFT")
    assert(hms.getParameters.get("EXTERNAL") === "TRUE")
    val metaLoc = hms.getParameters.get("metadata_location")
    assert(metaLoc.contains("/metadata/v2-") && io.exists(metaLoc))
    // the schema is visible to ANY metastore client, in hive types
    val cols = hms.getSd.getCols.asScala.map(c => (c.getName, c.getType))
    assert(cols === Seq(("id", "bigint"), ("name", "string")))
    // no filesystem pointer — the metastore entry is the source of truth
    assert(!io.exists(s"${hms.getSd.getLocation}/metadata/version-hint.text"))
  }

  test("lock-protocol CAS: concurrent handles both land; stale CAS fails") {
    catalog
    spark.sql("CREATE TABLE hv.db.cc (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "cc")
    def ops = new PointerTableOperations(loc, io, store, "db", "cc")
    val a = IceTable.loadWith(spark, ops)
    val b = IceTable.loadWith(spark, ops)
    import spark.implicits._
    a.append(Seq(1L).toDF("id"))
    b.append(Seq(2L).toDF("id"))
    assert(spark.sql("SELECT count(*) c FROM hv.db.cc").head().getLong(0) === 2L)
    val Some((v, mloc, _)) = store.getPointer("db", "cc")
    assert(!store.casPointer("db", "cc", "not-the-current-location", anySchema,
      v + 1, "x"))
    assert(store.getPointer("db", "cc").get._2 === mloc)
  }

  test("CTAS publish is the HMS entry; failed CTAS leaves no table; RTAS swaps") {
    catalog
    spark.sql("CREATE TABLE hv.db.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO hv.db.src SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    spark.sql("CREATE TABLE hv.db.ctas AS SELECT id, v * 2 AS v2 FROM hv.db.src")
    assert(spark.sql("SELECT count(*) c FROM hv.db.ctas").head().getLong(0) === 100L)
    intercept[Exception] {
      spark.sql("CREATE TABLE hv.db.ctas_fail AS " +
        "SELECT assert_true(id < 10, 'boom') AS a FROM hv.db.src")
    }
    assert(store.getPointer("db", "ctas_fail").isEmpty)
    spark.sql("REPLACE TABLE hv.db.ctas AS SELECT id FROM hv.db.src WHERE id < 7")
    assert(spark.sql("SELECT count(*) c FROM hv.db.ctas").head().getLong(0) === 7L)
  }

  test("HMS columns follow the table schema after ADD COLUMN and RTAS") {
    catalog
    def cols = store.getTable("db", "cols").get.getSd.getCols.asScala
      .map(c => (c.getName, c.getType)).toSeq
    spark.sql("CREATE TABLE hv.db.cols (id BIGINT, name STRING)")
    spark.sql("INSERT INTO hv.db.cols VALUES (1, 'a'), (2, 'b')")
    assert(cols === Seq(("id", "bigint"), ("name", "string")))
    // a schema change is a commit: every other metastore client must see it
    spark.sql("ALTER TABLE hv.db.cols ADD COLUMN score DOUBLE")
    assert(cols === Seq(("id", "bigint"), ("name", "string"), ("score", "double")))
    // RTAS swaps to a new schema, including a type Hive deems incompatible
    // (string -> bigint at the same position)
    spark.sql("REPLACE TABLE hv.db.cols AS SELECT id, id * 10 AS name FROM hv.db.cols")
    assert(cols === Seq(("id", "bigint"), ("name", "bigint")))
    assert(spark.sql("SELECT name FROM hv.db.cols ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(10L, 20L))
  }

  test("RENAME is an HMS alter: no files move, data stays readable") {
    catalog
    spark.sql("CREATE TABLE hv.db.rn_a (id BIGINT)")
    spark.sql("INSERT INTO hv.db.rn_a VALUES (42)")
    val Some((_, _, locBefore)) = store.getPointer("db", "rn_a")
    spark.sql("ALTER TABLE hv.db.rn_a RENAME TO db.rn_b")
    assert(store.getPointer("db", "rn_a").isEmpty)
    val Some((_, _, locAfter)) = store.getPointer("db", "rn_b")
    assert(locAfter === locBefore, "rename must not move table files")
    assert(spark.sql("SELECT id FROM hv.db.rn_b").head().getLong(0) === 42L)
  }

  test("DROP removes the entry and files; namespaces are HMS databases") {
    catalog
    spark.sql("CREATE TABLE hv.db.dropme (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "dropme")
    spark.sql("DROP TABLE hv.db.dropme")
    assert(store.getPointer("db", "dropme").isEmpty)
    assert(!io.exists(loc))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hv.nsx")
    assert(spark.sql("SHOW NAMESPACES IN hv").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
    spark.sql("DROP NAMESPACE hv.nsx")
    assert(!spark.sql("SHOW NAMESPACES IN hv").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
  }

  test("multi-level namespaces are rejected loudly (HMS databases are one level)") {
    catalog
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    // creating under a nested namespace must say WHY it fails, not NPE or
    // silently create something under the wrong database
    val create = intercept[Exception] {
      spark.sql("CREATE TABLE hv.a.b.nested_t (id BIGINT)")
    }
    assert(messages(create).exists(_.contains("single-level")),
      messages(create).mkString("; "))
    // nested CREATE NAMESPACE is equally explicit
    val ns = intercept[Exception] {
      spark.sql("CREATE NAMESPACE hv.a.b")
    }
    assert(messages(ns).exists(m =>
      m.contains("single-level") || m.toLowerCase.contains("namespace")),
      messages(ns).mkString("; "))
    // lookups under a nested namespace resolve to "no such table", never a
    // wrong-database hit
    val cat = spark.sessionState.catalogManager.catalog("hv")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("a", "b"), "nested_t")))
  }

  objectStoreDropPurges(catalog, base, io, store)

  test("DML and time travel work through the hive catalog") {
    catalog
    spark.sql("CREATE TABLE hv.db.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO hv.db.dml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val snap1 = spark.sql("SELECT snapshot_id FROM hv.db.dml.snapshots " +
      "ORDER BY committed_at DESC").head().getLong(0)
    spark.sql("DELETE FROM hv.db.dml WHERE id = 2")
    spark.sql("UPDATE hv.db.dml SET v = 'z' WHERE id = 3")
    assert(spark.sql("SELECT * FROM hv.db.dml ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (3L, "z")))
    assert(spark.sql(s"SELECT count(*) c FROM hv.db.dml VERSION AS OF $snap1")
      .head().getLong(0) === 3L)
  }

  test("register_table adopts a filesystem table without moving files") {
    catalog
    import spark.implicits._
    // a plain filesystem-catalog table, created outside any metastore
    val loc = s"$base/outside/regsrc"
    val t = IceTable.create(spark, loc,
      graft.meta.Schema.fresh(Seq((1L, "x")).toDF("id", "v").schema))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val metaLoc = s"$loc/metadata/v2.metadata.json"
    assert(io.exists(metaLoc))
    val out = spark.sql("CALL hv.system.register_table(table => 'db.adopted', " +
      s"metadata_location => '$metaLoc')").collect()
    assert(out.head.getLong(1) === 2L) // total_records from the summary
    assert(spark.sql("SELECT count(*) c FROM hv.db.adopted").head().getLong(0) === 2L)
    // commits now advance through the metastore pointer
    spark.sql("INSERT INTO hv.db.adopted VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) c FROM hv.db.adopted").head().getLong(0) === 3L)
    // HMS qualifies the location with a scheme; the path itself is unmoved
    assert(store.getPointer("db", "adopted").get._3.stripPrefix("file:") === loc,
      "registered table keeps its original location")
    // double-register is refused
    intercept[Exception] {
      spark.sql("CALL hv.system.register_table(table => 'db.adopted', " +
        s"metadata_location => '$metaLoc')").collect()
    }
    // DROP of an adopted table removes only the catalog entry — the files
    // live outside this catalog's warehouse and are NOT this catalog's to
    // delete (the original table keeps working)
    spark.sql("DROP TABLE hv.db.adopted")
    assert(store.getPointer("db", "adopted").isEmpty)
    assert(io.exists(loc), "adopted table's original files must survive DROP")
    // the filesystem view still reads at its own (pre-adoption) version
    assert(IceTable.load(spark, loc).toDF.count() === 2)
  }

  test("a crashed pre-commit writer leaves an orphan file, never a wedged table") {
    catalog
    spark.sql("CREATE TABLE hv.db.orphan (id BIGINT)")
    val Some((v, mloc, loc)) = store.getPointer("db", "orphan")
    io.writeString(s"$loc/metadata/v${v + 1}-deadbeef.metadata.json",
      io.readString(mloc))
    import spark.implicits._
    IceTable.loadWith(spark, new PointerTableOperations(loc, io, store, "db", "orphan"))
      .append(Seq(7L).toDF("id"))
    assert(spark.sql("SELECT id FROM hv.db.orphan").head().getLong(0) === 7L)
    assert(store.getPointer("db", "orphan").get._1 === v + 1)
  }
}
