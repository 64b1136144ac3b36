package graft

import graft.meta.Schema
import graft.table.{CatalogStore, CommitStateUnknownException, FileIO, GraftRestCatalogServer, IceTable, JdbcCatalogStore, PointerTableOperations, RestCatalogStore}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Service-fronted catalog: the table pointer lives behind an HTTP catalog
  * service (embedded pure-JDK server fronting the JDBC store — the
  * production deployment shape: one service owning auth + the commit point,
  * many Spark clusters doing small pointer requests). Everything above the
  * pointer is the shared [[PointerTableOperations]] CAS protocol, so this
  * suite focuses on the REST-specific seams: auth, clean-conflict vs
  * commit-state-UNKNOWN, and wire round-trips of awkward names. */
class RestCatalogSpec extends AnyFunSuite with BeforeAndAfterAll
    with PointerCatalogBehaviors {

  lazy val spark = SparkSessionHelper.spark

  private lazy val base = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rest").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    dir
  }

  /** Wraps the backing store so tests can knock the "database" over
    * mid-commit and observe the service answer 500. */
  private final class FlakyStore(d: CatalogStore) extends CatalogStore {
    @volatile var failCas = false
    override def casPointer(ns: String, n: String, e: String, s: Schema, v: Int,
        m: String): Boolean =
      if (failCas) throw new RuntimeException("backing store down")
      else d.casPointer(ns, n, e, s, v, m)
    override def getPointer(ns: String, n: String) = d.getPointer(ns, n)
    override def insertPointer(ns: String, n: String, tl: String, s: Schema, v: Int,
        ml: String) = d.insertPointer(ns, n, tl, s, v, ml)
    override def replacePointer(ns: String, n: String, tl: String, s: Schema, v: Int,
        ml: String) = d.replacePointer(ns, n, tl, s, v, ml)
    override def dropPointer(ns: String, n: String) = d.dropPointer(ns, n)
    override def renamePointer(fns: String, fn: String, tns: String, tn: String) =
      d.renamePointer(fns, fn, tns, tn)
    override def listTables(ns: String) = d.listTables(ns)
    override def createNamespace(ns: String) = d.createNamespace(ns)
    override def dropNamespace(ns: String) = d.dropNamespace(ns)
    override def namespaceExists(ns: String) = d.namespaceExists(ns)
    override def listNamespaces() = d.listNamespaces()
  }

  private val Token = "graft-test-token"
  private lazy val backing =
    new FlakyStore(new JdbcCatalogStore(s"jdbc:derby:$base/db;create=true", "grc"))
  private lazy val server = {
    val s = new GraftRestCatalogServer(backing, Some(Token))
    s.start()
    s
  }
  private lazy val catalog = {
    spark.conf.set("spark.sql.catalog.grc", "graft.spark.GraftRestCatalog")
    spark.conf.set("spark.sql.catalog.grc.warehouse", s"$base/wh")
    spark.conf.set("spark.sql.catalog.grc.uri", server.uri)
    spark.conf.set("spark.sql.catalog.grc.token", Token)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grc.db")
    "grc"
  }
  private lazy val io = new FileIO(spark.sparkContext.hadoopConfiguration)
  // a second, independent client — asserts see what any OTHER cluster sees
  private lazy val store = new RestCatalogStore(server.uri, Some(Token))

  override def afterAll(): Unit = server.stop()

  test("create/insert/select through SQL; pointer lives behind the service") {
    catalog
    spark.sql("CREATE TABLE grc.db.t1 (id BIGINT, name STRING) PARTITIONED BY (bucket(4, id))")
    spark.sql("INSERT INTO grc.db.t1 VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    assert(spark.sql("SELECT * FROM grc.db.t1 ORDER BY id").collect()
      .map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    val Some((v, metaLoc, tableLoc)) = store.getPointer("db", "t1")
    assert(v === 2, "create + append = pointer version 2")
    assert(metaLoc.contains("/metadata/v2-"))
    assert(io.exists(metaLoc))
    // no filesystem pointer — the service-held row is the source of truth
    assert(!io.exists(s"$tableLoc/metadata/version-hint.text"))
  }

  test("unauthenticated and wrong-token clients are refused loudly") {
    catalog
    val noToken = new RestCatalogStore(server.uri, None)
    val e1 = intercept[IllegalStateException] { noToken.getPointer("db", "t1") }
    assert(e1.getMessage.contains("401"))
    val badToken = new RestCatalogStore(server.uri, Some("wrong"))
    val e2 = intercept[IllegalStateException] { badToken.listNamespaces() }
    assert(e2.getMessage.contains("401"))
  }

  test("commit CAS: stale writer loses cleanly, retry loop recovers") {
    catalog
    spark.sql("CREATE TABLE grc.db.cc (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "cc")
    def ops = new PointerTableOperations(loc, io, store, "db", "cc")
    val a = IceTable.loadWith(spark, ops)
    val b = IceTable.loadWith(spark, ops)
    import spark.implicits._
    a.append(Seq(1L).toDF("id"))
    b.append(Seq(2L).toDF("id"))
    assert(spark.sql("SELECT count(*) c FROM grc.db.cc").head().getLong(0) === 2L)
    // a stale CAS answers 409 → clean false, pointer untouched
    val Some((v, mloc, _)) = store.getPointer("db", "cc")
    assert(!store.casPointer("db", "cc", "not-the-current-location", anySchema,
      v + 1, "x"))
    assert(store.getPointer("db", "cc").get._2 === mloc)
  }

  test("5xx mid-commit is commit-state-UNKNOWN: no retry, file left in place") {
    catalog
    spark.sql("CREATE TABLE grc.db.unk (id BIGINT)")
    val Some((v0, mloc0, loc)) = store.getPointer("db", "unk")
    val t = IceTable.loadWith(spark, new PointerTableOperations(loc, io, store, "db", "unk"))
    import spark.implicits._
    backing.failCas = true
    try {
      val e = intercept[CommitStateUnknownException] { t.append(Seq(9L).toDF("id")) }
      assert(e.getMessage.contains("may or may not"))
    } finally backing.failCas = false
    // outcome here: swap did NOT land (store threw before applying) — but the
    // client could not know that, so the candidate metadata file must SURVIVE
    // (if the swap HAD landed, deleting it would wedge the table); it is an
    // orphan for maintenance, never a correctness risk
    assert(store.getPointer("db", "unk").get._1 === v0)
    assert(store.getPointer("db", "unk").get._2 === mloc0)
    val candidates = io.list(s"$loc/metadata").map(_.getPath.getName)
      .filter(n => n.startsWith(s"v${v0 + 1}-") && n.endsWith(".metadata.json"))
    assert(candidates.nonEmpty, "candidate metadata file must not be deleted " +
      "when the commit outcome is unknown")
    // the table still works once the service is healthy again (the handle
    // re-reads the pointer on every commit attempt — nothing to refresh)
    t.append(Seq(10L).toDF("id"))
    assert(spark.sql("SELECT count(*) c FROM grc.db.unk").head().getLong(0) === 1L)
  }

  test("CTAS publish is the pointer insert; RTAS swaps atomically") {
    catalog
    spark.sql("CREATE TABLE grc.db.src (id BIGINT, v DOUBLE)")
    spark.sql("INSERT INTO grc.db.src SELECT id, CAST(id AS DOUBLE) FROM range(100)")
    spark.sql("CREATE TABLE grc.db.ctas AS SELECT id, v * 2 AS v2 FROM grc.db.src")
    assert(spark.sql("SELECT count(*) c FROM grc.db.ctas").head().getLong(0) === 100L)
    intercept[Exception] {
      spark.sql("CREATE TABLE grc.db.ctas_fail AS " +
        "SELECT assert_true(id < 10, 'boom') AS a FROM grc.db.src")
    }
    assert(store.getPointer("db", "ctas_fail").isEmpty)
    spark.sql("REPLACE TABLE grc.db.ctas AS SELECT id FROM grc.db.src WHERE id < 7")
    assert(spark.sql("SELECT count(*) c FROM grc.db.ctas").head().getLong(0) === 7L)
  }

  test("RENAME is a service-side row update: files never move") {
    catalog
    spark.sql("CREATE TABLE grc.db.rn_a (id BIGINT)")
    spark.sql("INSERT INTO grc.db.rn_a VALUES (42)")
    val Some((_, _, locBefore)) = store.getPointer("db", "rn_a")
    spark.sql("ALTER TABLE grc.db.rn_a RENAME TO db.rn_b")
    assert(store.getPointer("db", "rn_a").isEmpty)
    val Some((_, _, locAfter)) = store.getPointer("db", "rn_b")
    assert(locAfter === locBefore)
    assert(spark.sql("SELECT id FROM grc.db.rn_b").head().getLong(0) === 42L)
  }

  test("DROP removes row + files; namespaces round-trip the wire") {
    catalog
    spark.sql("CREATE TABLE grc.db.dropme (id BIGINT)")
    val Some((_, _, loc)) = store.getPointer("db", "dropme")
    spark.sql("DROP TABLE grc.db.dropme")
    assert(store.getPointer("db", "dropme").isEmpty)
    assert(!io.exists(loc))
    spark.sql("CREATE NAMESPACE IF NOT EXISTS grc.nsx")
    assert(spark.sql("SHOW NAMESPACES IN grc").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
    spark.sql("DROP NAMESPACE grc.nsx")
    assert(!spark.sql("SHOW NAMESPACES IN grc").collect()
      .map(_.getString(0)).toSet.contains("nsx"))
  }

  objectStoreDropPurges(catalog, base, io, store)

  test("DML and time travel work through the service catalog") {
    catalog
    spark.sql("CREATE TABLE grc.db.dml (id BIGINT, v STRING)")
    spark.sql("INSERT INTO grc.db.dml VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    val snap1 = spark.sql("SELECT snapshot_id FROM grc.db.dml.snapshots " +
      "ORDER BY committed_at DESC").head().getLong(0)
    spark.sql("DELETE FROM grc.db.dml WHERE id = 2")
    spark.sql("UPDATE grc.db.dml SET v = 'z' WHERE id = 3")
    assert(spark.sql("SELECT * FROM grc.db.dml ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "a"), (3L, "z")))
    assert(spark.sql(s"SELECT count(*) c FROM grc.db.dml VERSION AS OF $snap1")
      .head().getLong(0) === 3L)
  }

  test("register_table adopts a filesystem table through the service") {
    catalog
    import spark.implicits._
    val loc = s"$base/outside/regsrc"
    val t = IceTable.create(spark, loc,
      graft.meta.Schema.fresh(Seq((1L, "x")).toDF("id", "v").schema))
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    spark.sql("CALL grc.system.register_table(table => 'db.adopted', " +
      s"metadata_location => '$loc/metadata/v2.metadata.json')").collect()
    assert(spark.sql("SELECT count(*) c FROM grc.db.adopted").head().getLong(0) === 2L)
    spark.sql("INSERT INTO grc.db.adopted VALUES (3, 'c')")
    assert(store.getPointer("db", "adopted").get._1 === 3)
  }

  test("names that need percent-encoding survive the wire") {
    catalog
    // a namespace with a unicode char and a table with a space-adjacent name
    val ns = "wiré"
    assert(store.createNamespace(ns))
    assert(store.namespaceExists(ns))
    assert(store.insertPointer(ns, "t 1+x", s"$base/wh/wire/t1", anySchema, 1,
      s"$base/wh/wire/t1/metadata/v1-abc.metadata.json"))
    assert(store.getPointer(ns, "t 1+x").map(_._1) === Some(1))
    assert(store.listTables(ns) === Seq("t 1+x"))
    assert(store.dropPointer(ns, "t 1+x"))
    assert(store.dropNamespace(ns))
  }
}
