package graft

import graft.table.{FileIO, IceTable, JdbcCatalogStore, PointerTableOperations}

import org.scalatest.funsuite.AnyFunSuite

/** JDBC-pointer catalog (ref `core/.../jdbc/JdbcCatalog.java`): the table
  * pointer is a database row and commits CAS it with
  * `UPDATE ... WHERE metadata_location = ?` — the commit protocol that
  * survives object stores with no atomic rename. Embedded Derby (shipped
  * with Spark) plays the database. */
class JdbcCatalogSpec extends AnyFunSuite with PointerCatalogBehaviors {

  lazy val spark = SparkSessionHelper.spark

  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("graft_jdbc").toString
    // keep derby.log out of the repo working directory
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    dir
  }
  private def uri = s"jdbc:derby:$base/db;create=true"
  private lazy val catalog = {
    spark.conf.set("spark.sql.catalog.grj", "graft.spark.GraftJdbcCatalog")
    spark.conf.set("spark.sql.catalog.grj.warehouse", s"$base/wh")
    spark.conf.set("spark.sql.catalog.grj.uri", uri)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grj.db")
    "grj"
  }
  private lazy val io = new FileIO(spark.sparkContext.hadoopConfiguration)
  private lazy val store = new JdbcCatalogStore(uri, "grj")

  test("create/insert/select through SQL; pointer lives in the database") {
    catalog
    spark.sql("CREATE TABLE grj.db.t1 (id BIGINT, name STRING) PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO grj.db.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT * FROM grj.db.t1 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val Some((v, metaLoc, tableLoc)) = store.getPointer("db", "t1")
    assert(v === 2, "create + append = pointer version 2") // (v1 create, v2 append)
    assert(metaLoc.contains("/metadata/v2-"))
    assert(io.exists(metaLoc))
    // no filesystem pointer exists — the db row is the source of truth
    assert(!io.exists(s"$tableLoc/metadata/version-hint.text"))
  }

  test("commit CAS: stale writer loses, retry loop recovers, nothing is lost") {
    catalog
    spark.sql("CREATE TABLE grj.db.cc (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "cc")
    def ops = new PointerTableOperations(loc, io, store, "db", "cc")
    val a = IceTable.loadWith(spark, ops)
    val b = IceTable.loadWith(spark, ops)
    import spark.implicits._
    // both handles commit; each append re-reads the db pointer in its retry
    // loop, so the conflict resolves without data loss
    a.append(Seq(1L).toDF("id"))
    b.append(Seq(2L).toDF("id"))
    assert(spark.sql("SELECT count(*) c FROM grj.db.cc").head().getLong(0) === 2L)
    // a raw stale CAS (old metadata_location) must fail, not clobber
    val Some((v, mloc, _)) = store.getPointer("db", "cc")
    assert(!store.casPointer("db", "cc", "not-the-current-location", anySchema,
      v + 1, "x"))
    assert(store.getPointer("db", "cc").get._2 === mloc)
  }

  test("CTAS is atomic: publish is the row insert; failure leaves no table") {
    catalog
    spark.sql("CREATE TABLE grj.db.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO grj.db.src SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    spark.sql("CREATE TABLE grj.db.ctas AS SELECT id, v * 2 AS v2 FROM grj.db.src")
    assert(spark.sql("SELECT count(*) c FROM grj.db.ctas").head().getLong(0) === 100L)
    // failed CTAS: no row, no table
    intercept[Exception] {
      spark.sql("CREATE TABLE grj.db.ctas_fail AS " +
        "SELECT assert_true(id < 10, 'boom') AS a FROM grj.db.src")
    }
    assert(store.getPointer("db", "ctas_fail").isEmpty)
    assert(!spark.catalog.tableExists("grj.db.ctas_fail"))
    // RTAS swaps the pointer atomically and keeps the new contents
    spark.sql("REPLACE TABLE grj.db.ctas AS SELECT id FROM grj.db.src WHERE id < 7")
    assert(spark.sql("SELECT count(*) c FROM grj.db.ctas").head().getLong(0) === 7L)
  }

  test("RENAME is a row update: no files move, data stays readable") {
    catalog
    spark.sql("CREATE TABLE grj.db.rn_a (id BIGINT)")
    spark.sql("INSERT INTO grj.db.rn_a VALUES (42)")
    val Some((_, _, locBefore)) = store.getPointer("db", "rn_a")
    spark.sql("ALTER TABLE grj.db.rn_a RENAME TO db.rn_b")
    assert(store.getPointer("db", "rn_a").isEmpty)
    val Some((_, _, locAfter)) = store.getPointer("db", "rn_b")
    assert(locAfter === locBefore, "rename must not move table files")
    assert(spark.sql("SELECT id FROM grj.db.rn_b").head().getLong(0) === 42L)
  }

  test("DROP TABLE removes the row and the files; namespaces are rows") {
    catalog
    spark.sql("CREATE TABLE grj.db.dropme (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "dropme")
    spark.sql("DROP TABLE grj.db.dropme")
    assert(store.getPointer("db", "dropme").isEmpty)
    assert(!io.exists(loc))
    // namespace listing comes from rows, not directories
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grj.nsx")
    assert(spark.sql("SHOW NAMESPACES IN grj").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
    spark.sql("DROP NAMESPACE grj.nsx")
    assert(!spark.sql("SHOW NAMESPACES IN grj").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
  }

  objectStoreDropPurges(catalog, base, io, store)

  test("DML and time travel work through the jdbc catalog") {
    catalog
    spark.sql("CREATE TABLE grj.db.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO grj.db.dml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val snap1 = spark.sql("SELECT snapshot_id FROM grj.db.dml.snapshots " +
      "ORDER BY committed_at DESC").head().getLong(0)
    spark.sql("DELETE FROM grj.db.dml WHERE id = 2")
    spark.sql("UPDATE grj.db.dml SET v = 'z' WHERE id = 3")
    assert(spark.sql("SELECT * FROM grj.db.dml ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (3L, "z")))
    assert(spark.sql(s"SELECT count(*) c FROM grj.db.dml VERSION AS OF $snap1")
      .head().getLong(0) === 3L)
  }

  test("register_table adopts a filesystem table into the jdbc catalog") {
    catalog
    import spark.implicits._
    val loc = s"$base/outside/regsrc"
    val t = IceTable.create(spark, loc,
      graft.meta.Schema.fresh(Seq((1L, "x")).toDF("id", "v").schema))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("CALL grj.system.register_table(table => 'db.adopted', " +
      s"metadata_location => '$loc/metadata/v2.metadata.json')").collect()
    assert(spark.sql("SELECT count(*) c FROM grj.db.adopted").head().getLong(0) === 2L)
    spark.sql("INSERT INTO grj.db.adopted VALUES (3, 'c')")
    assert(store.getPointer("db", "adopted").get._1 === 3)
  }

  test("a crashed pre-CAS commit leaves an orphan file, never a wedged table") {
    catalog
    spark.sql("CREATE TABLE grj.db.orphan (id BIGINT)")
    val Some((v, mloc, loc)) = store.getPointer("db", "orphan")
    // simulate a writer that died after writing its metadata file but
    // before the row CAS: drop a uniquely-named candidate file in place
    io.writeString(s"$loc/metadata/v${v + 1}-deadbeef.metadata.json",
      io.readString(mloc))
    import spark.implicits._
    IceTable.loadWith(spark, new PointerTableOperations(loc, io, store, "db", "orphan"))
      .append(Seq(7L).toDF("id"))
    assert(spark.sql("SELECT id FROM grj.db.orphan").head().getLong(0) === 7L)
    assert(store.getPointer("db", "orphan").get._1 === v + 1)
  }
}
