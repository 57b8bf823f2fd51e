package graft.format

import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** GraftCatalog: SQL access to multi-table graft files. */
class CatalogSpec extends SparkSpec {

  private def writeMultiTable(dir: String): Unit = {
    val file = new Path(s"$dir/db1/chunked.graft")
    val fs = file.getFileSystem(new Configuration())
    fs.mkdirs(file.getParent)
    val out = fs.create(file, true)
    val w = new GraftFileWriter(out)
    val sA = StructType(Seq(StructField("k", LongType), StructField("name", StringType)))
    val sB = StructType(Seq(StructField("k", LongType), StructField("score", DoubleType)))
    val ta = new TableBuffer("users", sA)
    val tb = new TableBuffer("scores", sB)
    val encA = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(sA).createSerializer()
    val encB = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(sB).createSerializer()
    (0 until 50).foreach(i => ta.appendRow(encA(Row(i.toLong, s"u$i")).copy()))
    (0 until 50).foreach(i => tb.appendRow(encB(Row(i.toLong, i * 1.5)).copy()))
    w.writeChunk(Seq(ta, tb))
    w.finish()
    out.close()
  }

  test("SQL over catalog namespaces, tables, and cross-table joins") {
    val root = Files.createTempDirectory("graft-cat").toString
    writeMultiTable(root)
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", root)
    // both tables of ONE file, joined in SQL through the catalog
    val joined = spark.sql(
      """SELECT u.name, s.score
        |FROM graft_cat.db1.users u JOIN graft_cat.db1.scores s ON u.k = s.k
        |WHERE s.score > 60 ORDER BY u.name""".stripMargin)
    val rows = joined.collect()
    assert(rows.length == 9) // k=41..49: score 61.5..73.5
    assert(rows.head.getString(0) == "u41")
    // catalog surface
    assert(spark.sql("SHOW NAMESPACES IN graft_cat").collect().map(_.getString(0)).contains("db1"))
    val tables = spark.sql("SHOW TABLES IN graft_cat.db1").collect().map(_.getString(1)).toSet
    assert(tables == Set("users", "scores"))
  }

  test("distributed per-table writes share a namespace; one table spans files") {
    val root = Files.createTempDirectory("graft-catw").toString
    spark.conf.set("spark.sql.catalog.graft_catw", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_catw.root", root)
    // two tables, each written distributed (multiple tasks → multiple
    // files per table), into ONE namespace dir — no driver collect
    spark.range(0, 200).repartition(3).selectExpr("id AS k", "concat('n', id) AS nm")
      .write.format("graft").option("table", "alpha").mode("append").save(s"$root/db2")
    spark.range(0, 50).repartition(2).selectExpr("id AS k", "id * 2 AS v")
      .write.format("graft").option("table", "beta").mode("append").save(s"$root/db2")
    val tables = spark.sql("SHOW TABLES IN graft_catw.db2").collect().map(_.getString(1)).toSet
    assert(tables == Set("alpha", "beta"))
    val j = spark.sql(
      """SELECT count(*) AS n FROM graft_catw.db2.alpha a
        |JOIN graft_catw.db2.beta b ON a.k = b.k""".stripMargin)
    assert(j.head.getLong(0) == 50)
    // alpha really spans multiple files
    val files = new java.io.File(s"$root/db2").listFiles().filter(_.getName.endsWith(".graft"))
    assert(files.length >= 5) // 3 alpha + 2 beta tasks
  }

  test("DSv2 `tables` option writes one file holding several named tables") {
    val root = Files.createTempDirectory("graft-catm").toString
    spark.range(0, 120)
      .selectExpr("id AS k", "concat('u', id) AS nm", "CAST(id * 1.5 AS DOUBLE) AS score")
      .coalesce(1)
      .write.format("graft")
      .option("tables", "users:k,nm;scores:k,score")
      .mode("overwrite").save(s"$root/db4")
    // ONE physical file, TWO catalog tables
    val files = new java.io.File(s"$root/db4").listFiles().filter(_.getName.endsWith(".graft"))
    assert(files.length == 1, s"expected one shared file, got ${files.length}")
    spark.conf.set("spark.sql.catalog.graft_catm", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_catm.root", root)
    val tables = spark.sql("SHOW TABLES IN graft_catm.db4").collect().map(_.getString(1)).toSet
    assert(tables == Set("users", "scores"))
    val j = spark.sql(
      """SELECT count(*) AS n, sum(s.score) AS total
        |FROM graft_catm.db4.users u JOIN graft_catm.db4.scores s ON u.k = s.k""".stripMargin)
    val r = j.head
    assert(r.getLong(0) == 120)
    assert(math.abs(r.getDouble(1) - 1.5 * 119 * 120 / 2) < 1e-9)
    // distributed variant: several tasks, each file still holds BOTH tables
    spark.range(0, 300).selectExpr("id AS k", "concat('u', id) AS nm", "CAST(id * 2.0 AS DOUBLE) AS score")
      .repartition(3)
      .write.format("graft")
      .option("tables", "users:k,nm;scores:k,score")
      .mode("overwrite").save(s"$root/db4")
    val conf = new Configuration()
    graft.sources.GraftDataSource.listFiles(conf, s"$root/db4").foreach { f =>
      val rdr = GraftFileReader.open(f.getFileSystem(conf), f)
      val names = try rdr.tableNames finally rdr.close()
      assert(names.toSet == Set("users", "scores"), s"$f holds $names")
    }
    assert(spark.sql("SELECT count(*) AS n FROM graft_catm.db4.users").head.getLong(0) == 300)
    // malformed specs fail loudly
    intercept[Exception](spark.range(1).selectExpr("id AS k")
      .write.format("graft").option("tables", "a:nope")
      .mode("overwrite").save(s"$root/db5"))
    intercept[Exception](spark.range(1).selectExpr("id AS k")
      .write.format("graft").option("tables", "a:k;a:k")
      .mode("overwrite").save(s"$root/db5"))
  }

  test("SQL VERSION AS OF reads a pinned compaction generation") {
    val root = Files.createTempDirectory("graft-cattt").toString
    spark.range(0, 500).selectExpr("id AS k", "id * 3 AS v")
      .repartition(4).write.format("graft").option("table", "t")
      .mode("append").save(s"$root/db6")
    graft.operators.FormatOps.compact(spark, s"$root/db6", targetFiles = 2) // gen-1
    graft.operators.FormatOps.compact(spark, s"$root/db6", targetFiles = 2) // gen-2
    spark.range(500, 800).selectExpr("id AS k", "id * 3 AS v")
      .coalesce(1).write.format("graft").option("table", "t")
      .mode("append").save(s"$root/db6")
    spark.conf.set("spark.sql.catalog.graft_cattt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cattt.root", root)
    assert(spark.sql("SELECT count(*) AS n FROM graft_cattt.db6.t")
      .head.getLong(0) == 800)
    assert(spark.sql("SELECT count(*) AS n FROM graft_cattt.db6.t VERSION AS OF 1")
      .head.getLong(0) == 500)
    assert(spark.sql("SELECT count(*) AS n FROM graft_cattt.db6.t VERSION AS OF 'gen-00002'")
      .head.getLong(0) == 800)
    val e = intercept[Exception](
      spark.sql("SELECT * FROM graft_cattt.db6.t VERSION AS OF 9").collect())
    assert(e.getMessage.contains("never made live"), e.getMessage)
    // TIMESTAMP AS OF: pin the records' births so the cut points are
    // deterministic (and survive appends, which bump dir mtimes)
    def pinBirth(gen: String, ts: String): Unit = {
      val conf = new Configuration()
      val genDir = new Path(s"$root/db6/$gen")
      val rec = graft.sources.GenerationRecord.read(conf, genDir).get
      graft.sources.GenerationRecord.write(conf, genDir,
        rec.copy(born = Some(java.sql.Timestamp.valueOf(ts).getTime)))
    }
    pinBirth("gen-00001", "2019-01-01 00:00:00")
    pinBirth("gen-00002", "2021-01-01 00:00:00")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_cattt.db6.t TIMESTAMP AS OF '2020-06-01 00:00:00'")
      .head.getLong(0) == 500)
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_cattt.db6.t TIMESTAMP AS OF '2022-01-01 00:00:00'")
      .head.getLong(0) == 800)
    val e2 = intercept[Exception](spark.sql(
      "SELECT * FROM graft_cattt.db6.t TIMESTAMP AS OF '2018-01-01 00:00:00'").collect())
    assert(e2.getMessage.contains("no generation"), e2.getMessage)
  }

  test("SQL DDL/DML: CREATE TABLE, INSERT INTO/OVERWRITE, CTAS") {
    val root = Files.createTempDirectory("graft-ddl").toString
    spark.conf.set("spark.sql.catalog.graft_ddl", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ddl.root", root)
    spark.sql("CREATE NAMESPACE graft_ddl.db7")
    spark.sql("CREATE TABLE graft_ddl.db7.t1 (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_ddl.db7.t1 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO graft_ddl.db7.t1 VALUES (3, 'c')")
    assert(spark.sql("SELECT count(*) FROM graft_ddl.db7.t1").head.getLong(0) == 3)
    spark.sql("INSERT OVERWRITE graft_ddl.db7.t1 VALUES (9, 'z')")
    val r = spark.sql("SELECT k, v FROM graft_ddl.db7.t1").collect()
    assert(r.length == 1 && r.head.getLong(0) == 9 && r.head.getString(1) == "z")
    spark.sql("CREATE TABLE graft_ddl.db7.t2 AS SELECT id AS k, id * 2 AS v FROM range(10)")
    assert(spark.sql("SELECT sum(v) FROM graft_ddl.db7.t2").head.getLong(0) == 90)
  }

  test("ALTER TABLE ADD COLUMN: old files read the new column as null") {
    val root = Files.createTempDirectory("graft-evolve").toString
    spark.conf.set("spark.sql.catalog.graft_ev", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_ev.root", root)
    spark.sql("CREATE NAMESPACE graft_ev.db8")
    spark.sql("CREATE TABLE graft_ev.db8.t (k BIGINT, v STRING)")
    spark.sql("INSERT INTO graft_ev.db8.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE graft_ev.db8.t ADD COLUMN w BIGINT")
    // pre-ALTER rows surface the new column as null
    val r = spark.sql("SELECT k, v, w FROM graft_ev.db8.t ORDER BY k").collect()
    assert(r.length == 2 && r.forall(_.isNullAt(2)))
    // post-ALTER inserts carry it; mixed-schema files scan together
    spark.sql("INSERT INTO graft_ev.db8.t VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT sum(w) FROM graft_ev.db8.t").head.getLong(0) == 30)
    assert(spark.sql("SELECT count(*) FROM graft_ev.db8.t").head.getLong(0) == 3)
    // DROP COLUMN is supported (tombstoned): the column hides, and its
    // name stays claimed — re-adding it would resurrect the old files'
    // values (SchemaEvolutionDdlSpec covers the full contract)
    spark.sql("ALTER TABLE graft_ev.db8.t DROP COLUMN v")
    assert(spark.table("graft_ev.db8.t").columns.toSeq == Seq("k", "w"))
    intercept[Exception](spark.sql("ALTER TABLE graft_ev.db8.t ADD COLUMN v STRING"))
    intercept[Exception](spark.sql("ALTER TABLE graft_ev.db8.t ADD COLUMN k STRING"))
    // the catalog's OWN guards, via the TableCatalog API (Spark's
    // analyzer shields the SQL path, so exercise them directly)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableChange}
    val cat = spark.sessionState.catalogManager.catalog("graft_ev")
      .asInstanceOf[graft.sources.GraftCatalog]
    val dup = intercept[IllegalArgumentException](cat.alterTable(
      Identifier.of(Array("db8"), "t"),
      TableChange.addColumn(Array("k"), org.apache.spark.sql.types.StringType)))
    assert(dup.getMessage.contains("already in use"))
    // positional ADD: FIRST prepends, AFTER anchors mid-schema; decode
    // stays name-keyed so old files are unaffected by declared order
    cat.alterTable(Identifier.of(Array("db8"), "t"),
      TableChange.addColumn(Array("z"), org.apache.spark.sql.types.StringType, true,
        null, TableChange.ColumnPosition.first(), null))
    assert(spark.table("graft_ev.db8.t").columns.toSeq == Seq("z", "k", "w"))
    cat.alterTable(Identifier.of(Array("db8"), "t"),
      TableChange.addColumn(Array("z2"), org.apache.spark.sql.types.StringType, true,
        null, TableChange.ColumnPosition.after("k"), null))
    assert(spark.table("graft_ev.db8.t").columns.toSeq == Seq("z", "k", "z2", "w"))
    val badAfter = intercept[IllegalArgumentException](cat.alterTable(
      Identifier.of(Array("db8"), "t"),
      TableChange.addColumn(Array("z3"), org.apache.spark.sql.types.StringType, true,
        null, TableChange.ColumnPosition.after("nope"), null)))
    assert(badAfter.getMessage.contains("does not exist"))
  }

  test("many-file namespace: parallel footer probes keep listing fast") {
    val root = Files.createTempDirectory("graft-catp").toString
    val conf = new Configuration()
    val sA = StructType(Seq(StructField("k", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(sA).createSerializer()
    (0 until 300).foreach { i =>
      val file = new Path(f"$root/dbp/f$i%04d.graft")
      val fs = file.getFileSystem(conf)
      fs.mkdirs(file.getParent)
      val out = fs.create(file, true)
      val w = new GraftFileWriter(out)
      val tb = new TableBuffer("wide", sA)
      tb.appendRow(enc(Row(i.toLong)).copy())
      w.writeChunk(Seq(tb))
      w.finish()
      out.close()
    }
    spark.conf.set("spark.sql.catalog.graft_catp", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_catp.root", root)
    val t0 = System.nanoTime()
    val tables = spark.sql("SHOW TABLES IN graft_catp.dbp").collect().map(_.getString(1)).toSet
    val n = spark.sql("SELECT count(*) AS n FROM graft_catp.dbp.wide").head.getLong(0)
    val sec = (System.nanoTime() - t0) / 1e9
    assert(tables == Set("wide"))
    assert(n == 300)
    // 300 footers: listTables probes all (16-way concurrent), loadTable's
    // schema search exits on its first 64-file batch; serial driver opens
    // at object-store latencies would blow far past this bound
    assert(sec < 20.0, f"many-file catalog ops took $sec%.1fs")
  }

  test("createTable marker, writeTo append, and dropTable") {
    val root = Files.createTempDirectory("graft-catc").toString
    spark.conf.set("spark.sql.catalog.graft_catc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_catc.root", root)
    spark.sql("CREATE NAMESPACE graft_catc.db3")
    spark.sql("CREATE TABLE graft_catc.db3.ev (k BIGINT, tag STRING) USING graft")
    // visible while still empty (schema comes from the marker)
    assert(spark.sql("SELECT * FROM graft_catc.db3.ev").count() == 0)
    spark.range(0, 30).selectExpr("id AS k", "concat('t', id) AS tag")
      .writeTo("graft_catc.db3.ev").append()
    assert(spark.sql("SELECT count(*) AS n FROM graft_catc.db3.ev").head.getLong(0) == 30)
    spark.sql("DROP TABLE graft_catc.db3.ev")
    assert(!spark.sql("SHOW TABLES IN graft_catc.db3").collect()
      .map(_.getString(1)).contains("ev"))
  }

  test("DROP TABLE in a pointered namespace: siblings intact, history readable") {
    val root = Files.createTempDirectory("graft-catd").toString
    spark.conf.set("spark.sql.catalog.graft_catd", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_catd.root", root)
    spark.sql("CREATE NAMESPACE graft_catd.db")
    spark.range(0, 40).selectExpr("id AS k", "id * 2 AS a")
      .writeTo("graft_catd.db.ta").using("graft").create()
    spark.range(0, 25).selectExpr("id AS k", "id * 3 AS b")
      .writeTo("graft_catd.db.tb").using("graft").create()
    // compact -> generation pointer + carry manifests in play
    graft.operators.FormatOps.compact(spark, s"$root/db", targetFiles = 1)
    assert(spark.table("graft_catd.db.ta").count() == 40)
    spark.sql("DROP TABLE graft_catd.db.tb")
    // the sibling MUST stay fully readable: the drop may not physically
    // delete carried files the live manifest still references
    assert(spark.table("graft_catd.db.ta").count() == 40)
    assert(spark.table("graft_catd.db.ta")
      .agg(org.apache.spark.sql.functions.sum("a")).head.getLong(0) ==
      (0L until 40L).map(_ * 2).sum)
    assert(!spark.sql("SHOW TABLES IN graft_catd.db").collect()
      .map(_.getString(1)).contains("tb"))
    intercept[Exception](spark.table("graft_catd.db.tb").count())
    // frozen pre-drop generation still serves the dropped table
    val preDrop = spark.sql(
      "SELECT count(*) AS n FROM graft_catd.db.tb VERSION AS OF 1")
    assert(preDrop.head.getLong(0) == 25)
  }

  test("procedures refuse NULL int args; ALTER refuses case-duplicate columns") {
    val root = Files.createTempDirectory("graft-cate").toString
    spark.conf.set("spark.sql.catalog.graft_cate", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cate.root", root)
    spark.sql("CREATE NAMESPACE graft_cate.db")
    spark.range(0, 10).selectExpr("id AS k", "id AS v")
      .writeTo("graft_cate.db.t").using("graft").create()
    graft.operators.FormatOps.compact(spark, s"$root/db", targetFiles = 1)
    val e1 = intercept[Exception](
      spark.sql("CALL graft_cate.sys.restore(ns => 'db', generation => NULL)").collect())
    assert(e1.getMessage.contains("NULL") || e1.getMessage.contains("null"))
    val e2 = intercept[Exception](
      spark.sql("CALL graft_cate.sys.compact(ns => 'db', target_files => NULL)").collect())
    assert(e2.getMessage.contains("NULL") || e2.getMessage.contains("null"))
    // case-insensitive duplicate: Spark resolves identifiers
    // case-insensitively, so K must collide with k
    val e3 = intercept[Exception](
      spark.sql("ALTER TABLE graft_cate.db.t ADD COLUMN K STRING"))
    assert(e3.getMessage.contains("already exists"))
  }

  test("DELETE FROM: copy-on-write; siblings and history stay intact") {
    val root = Files.createTempDirectory("graft-dml").toString
    spark.conf.set("spark.sql.catalog.graft_dmlt", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dmlt.root", root)
    spark.range(0, 200).selectExpr("id AS k", "concat('n', id) AS nm")
      .write.format("graft").option("table", "alpha").mode("append").save(s"$root/db")
    spark.range(0, 30).selectExpr("id AS k")
      .write.format("graft").option("table", "beta").mode("append").save(s"$root/db")
    // freeze the pre-delete state as gen-1 so history is addressable
    graft.operators.FormatOps.compact(spark, s"$root/db", targetFiles = 1)
    spark.sql("DELETE FROM graft_dmlt.db.alpha WHERE k < 50")
    assert(spark.table("graft_dmlt.db.alpha").count() == 150)
    assert(spark.sql("SELECT min(k) AS m FROM graft_dmlt.db.alpha").head.getLong(0) == 50)
    // the sibling table in the same namespace dir copied through unchanged
    assert(spark.table("graft_dmlt.db.beta").count() == 30)
    // the pre-delete generation is still addressable: DELETE is COW
    assert(spark.sql("SELECT count(*) AS n FROM graft_dmlt.db.alpha VERSION AS OF 1")
      .head.getLong(0) == 200)
    // NULL-predicate semantics: WHERE NULL deletes nothing
    spark.sql("DELETE FROM graft_dmlt.db.alpha WHERE k < CAST(NULL AS BIGINT)")
    assert(spark.table("graft_dmlt.db.alpha").count() == 150)
  }

  test("TRUNCATE TABLE empties the table but keeps it queryable") {
    // rides the DELETE path: TruncatableTable's default truncateTable()
    // is deleteWhere(AlwaysTrue) — one COW generation holding zero rows
    // for this table, schema marker intact, siblings untouched
    val root = Files.createTempDirectory("graft-trunc").toString
    spark.conf.set("spark.sql.catalog.graft_trc", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_trc.root", root)
    spark.range(0, 50).selectExpr("id AS k")
      .write.format("graft").option("table", "t").mode("append").save(s"$root/db")
    spark.range(0, 7).selectExpr("id AS k")
      .write.format("graft").option("table", "other").mode("append").save(s"$root/db")
    spark.sql("TRUNCATE TABLE graft_trc.db.t")
    assert(spark.table("graft_trc.db.t").count() == 0)
    assert(spark.table("graft_trc.db.other").count() == 7)
    // still writable after the truncate
    spark.range(0, 3).selectExpr("id AS k").writeTo("graft_trc.db.t").append()
    assert(spark.table("graft_trc.db.t").count() == 3)
  }

  test("DELETE with an untranslatable predicate runs through the row-level COW path") {
    val root = Files.createTempDirectory("graft-dmlr").toString
    spark.conf.set("spark.sql.catalog.graft_dmlr", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_dmlr.root", root)
    spark.range(0, 100).selectExpr("id AS k", "concat('n', id) AS nm")
      .write.format("graft").option("table", "t").mode("append").save(s"$root/db")
    // k + 1 has no exact source-Filter form, so canDeleteWhere says no
    // and the metadata-only path is off the table; Spark falls back to
    // the group-based row-level rewrite (GraftRowLevelOperation), which
    // re-evaluates the predicate row-by-row — exact, never a guess
    spark.sql("DELETE FROM graft_dmlr.db.t WHERE k + 1 > 10")
    val left = spark.table("graft_dmlr.db.t")
    assert(left.count() == 10)
    assert(canon(left.selectExpr("k")) ==
      canon(spark.range(0, 10).selectExpr("id AS k")))
  }
}
