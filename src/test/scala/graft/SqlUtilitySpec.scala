package graft

import graft.ops.AtomicPublish
import graft.engine.GraftConf

/** The SQL utility surface (graft.plans.GraftSqlParser +
  * the `table_changes` TVF): VACUUM / OPTIMIZE / RESTORE / DESCRIBE
  * HISTORY as SQL text over catalog names and quoted paths, the loud
  * refusals for foreign catalogs and malformed TVF calls, and — the
  * wrapper's prime directive — that every statement the grammar does
  * NOT own still parses exactly as Spark would. */
class SqlUtilitySpec extends SparkSpec {

  private lazy val wh = {
    val dir = graft.engine.Scratch.dir("spec_sqlutil_wh")
    spark.conf.set("spark.sql.catalog.util_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.util_cat.warehouse", dir)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS util_cat.db")
    dir
  }

  private def msgs(x: Throwable): String =
    Option(x).map(t => t.getMessage + msgs(t.getCause)).getOrElse("")

  test("DESCRIBE HISTORY / OPTIMIZE / RESTORE / VACUUM drive the protocol by name") {
    wh
    spark.sql("CREATE TABLE util_cat.db.hist (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('merge.keys'='k')")
    spark.sql("INSERT INTO util_cat.db.hist VALUES (1,'a'), (2,'b')")
    spark.sql("MERGE INTO util_cat.db.hist t " +
      "USING (SELECT 2L AS k, 'b2' AS v) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val opt = spark.sql("OPTIMIZE util_cat.db.hist").collect()(0)
    assert(opt.getString(1) === "COMPACT" && opt.getString(2) === "COMPACTED")
    val hist = spark.sql("DESCRIBE HISTORY util_cat.db.hist")
      .select("version", "operation", "is_fold")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    assert(hist.toSeq === Seq((1L, "PUBLISH", false), (2L, "APPEND", false),
      (3L, "MERGE", false), (4L, "OPTIMIZE", true)))
    val restored = spark.sql(
      "RESTORE TABLE util_cat.db.hist TO VERSION AS OF 2").collect()(0)
    assert(restored.getLong(1) === 2L && restored.getLong(2) === 5L)
    assert(spark.sql("SELECT v FROM util_cat.db.hist WHERE k = 2")
      .head.getString(0) === "b")
    // the fold left superseded dirs; VACUUM RETAIN 0 HOURS reaps them
    // — and restores any pre-set retention conf afterwards
    spark.conf.set(GraftConf.RetentionMs.key, "123456")
    val vac = spark.sql("VACUUM util_cat.db.hist RETAIN 0 HOURS").collect()(0)
    assert(vac.getLong(1) > 0L, s"vacuum deleted nothing: $vac")
    assert(spark.conf.get(GraftConf.RetentionMs.key) === "123456")
    spark.conf.unset(GraftConf.RetentionMs.key)
  }

  test("quoted-path targets address the protocol directly") {
    import spark.implicits._
    val t = graft.engine.Scratch.dir("spec_sqlutil_path")
    AtomicPublish.publish(spark, t)(p =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(p))
    AtomicPublish.appendSegment(spark, t)(p =>
      Seq((2L, "b")).toDF("k", "v").write.parquet(p))
    val hist = spark.sql(s"DESCRIBE HISTORY '$t'").collect()
    assert(hist.map(_.getString(1)).toSeq === Seq("PUBLISH", "APPEND"))
    val opt = spark.sql(s"OPTIMIZE '$t' ZORDER BY (k)").collect()(0)
    assert(opt.getString(2) === "COMPACTED")
    assert(spark.sql(s"VACUUM '$t' RETAIN 0 HOURS").collect()(0)
      .getLong(1) > 0L)
  }

  test("foreign catalogs and unresolvable names refuse loudly") {
    wh
    val e = intercept[Exception] {
      spark.sql("VACUUM spark_catalog.default.sometable").collect()
    }
    assert(msgs(e).contains("not a graft catalog"), msgs(e))
    val e2 = intercept[Exception] {
      spark.sql("OPTIMIZE util_cat.db.never_created").collect()
    }
    assert(msgs(e2).toLowerCase.contains("table"), msgs(e2))
  }

  test("the wrapper never claims statements it does not own") {
    wh
    // a temp view literally named `history` still DESCRIBEs as Spark
    spark.range(3).createOrReplaceTempView("history")
    assert(spark.sql("DESCRIBE history").count() > 0)
    // ordinary SQL parses untouched through the delegating parser
    assert(spark.sql("SELECT 1 AS one").head.getInt(0) === 1)
    // garbage is still a PARSE error, not a graft error
    val e = intercept[Exception] { spark.sql("FROBNICATE the database") }
    assert(e.getClass.getName.toLowerCase.contains("parse"), e.toString)
  }

  test("DESCRIBE DETAIL reports the operational summary; ALTER TABLE manages properties") {
    wh
    spark.sql("CREATE TABLE util_cat.db.det (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('merge.keys'='k')")
    spark.sql("INSERT INTO util_cat.db.det VALUES (1,'a'), (2,'b')")
    spark.sql("MERGE INTO util_cat.db.det t USING (SELECT 1L AS k, 'a2' AS v) " +
      "s ON t.k = s.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *")
    val d = spark.sql("DESCRIBE DETAIL util_cat.db.det").collect()(0)
    assert(d.getString(0) === "graft")
    assert(d.getLong(2) === 3L)      // create + insert + merge
    assert(d.getInt(3) === 3 && d.getInt(4) === 1) // one pending upsert
    assert(d.getString(6) === "k")
    // late property declaration + removal
    spark.sql("ALTER TABLE util_cat.db.det SET TBLPROPERTIES ('note'='x')")
    val d2 = spark.sql("DESCRIBE DETAIL util_cat.db.det").collect()(0)
    assert(d2.getString(7) === "merge.keys=k;note=x")
    spark.sql("ALTER TABLE util_cat.db.det UNSET TBLPROPERTIES ('note')")
    assert(spark.sql("DESCRIBE DETAIL util_cat.db.det").collect()(0)
      .getString(7) === "merge.keys=k")
    // the merge identity is immutable: change and drop refuse
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE util_cat.db.det SET TBLPROPERTIES ('merge.keys'='v')")
    }
    assert(msgs(e).contains("row identity"), msgs(e))
    val e2 = intercept[Exception] {
      spark.sql("ALTER TABLE util_cat.db.det UNSET TBLPROPERTIES ('merge.keys')")
    }
    assert(msgs(e2).contains("cannot be dropped"), msgs(e2))
    // late DECLARATION on a keyless table is allowed (validated)
    spark.sql("CREATE TABLE util_cat.db.late (a BIGINT, b STRING)")
    spark.sql("ALTER TABLE util_cat.db.late SET TBLPROPERTIES ('merge.keys'='a')")
    assert(spark.sql("DESCRIBE DETAIL util_cat.db.late").collect()(0)
      .getString(6) === "a")
    // SHOW TBLPROPERTIES reads the same sidecar through Spark's own
    // command (table.properties())
    val shown = spark.sql("SHOW TBLPROPERTIES util_cat.db.late")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown.get("merge.keys").contains("a"), shown.toString)
    val e3 = intercept[Exception] {
      spark.sql("ALTER TABLE util_cat.db.late SET TBLPROPERTIES ('merge.keys'='nope')")
    }
    assert(msgs(e3).contains("row identity") || msgs(e3).contains("absent"),
      msgs(e3))
  }

  test("table_changes accepts timestamp-string bounds") {
    wh
    spark.sql("CREATE TABLE util_cat.db.cdft (k BIGINT, v STRING)")
    spark.sql("INSERT INTO util_cat.db.cdft VALUES (1,'a')")
    val t0 = System.currentTimeMillis()
    Thread.sleep(1100) // version-log mtimes are second-granular on some fs
    spark.sql("INSERT INTO util_cat.db.cdft VALUES (2,'b')")
    val t1 = System.currentTimeMillis()
    // from = before-the-commit-at-or-after t0 → includes only the
    // second insert; to = newest commit at-or-before now
    val changed = spark.sql(
      s"SELECT k FROM table_changes('util_cat.db.cdft', '${t0 + 1}', '$t1')")
      .collect().map(_.getLong(0)).toSeq
    assert(changed === Seq(2L), changed.toString)
  }

  test("CONVERT TO GRAFT adopts a parquet directory in place; refusals and crash resume") {
    import spark.implicits._
    val t = graft.engine.Scratch.dir("spec_convert")
    val tp = new org.apache.hadoop.fs.Path(t)
    val fs = tp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tp)) fs.delete(tp, true)
    (1L to 8L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(2).write.parquet(t)
    val row = spark.sql(s"CONVERT TO GRAFT '$t'").collect()(0)
    assert(row.getInt(1) === 2 && row.getLong(2) === 1L)
    assert(AtomicPublish.read(spark, t).count() === 8L)
    // already a table → refuse
    val e = intercept[Exception] { spark.sql(s"CONVERT TO GRAFT '$t'") }
    assert(msgs(e).contains("already a graft table"), msgs(e))
    // still appendable / taggable like any published table
    AtomicPublish.appendSegment(spark, t)(p =>
      Seq((9L, "v9")).toDF("k", "v").write.parquet(p))
    assert(AtomicPublish.read(spark, t).count() === 9L)

    // partitioned layouts refuse loudly
    val part = graft.engine.Scratch.dir("spec_convert_part")
    val pp = new org.apache.hadoop.fs.Path(part)
    if (fs.exists(pp)) fs.delete(pp, true)
    (1L to 4L).map(k => (k, k % 2)).toDF("k", "p")
      .write.partitionBy("p").parquet(part)
    val e2 = intercept[Exception] { spark.sql(s"CONVERT TO GRAFT '$part'") }
    assert(msgs(e2).contains("adopted in place"), msgs(e2))

    // crash debris resume: some files moved into a data-* dir, some
    // still at root, no MANIFEST — a re-run finishes the SAME dir
    val cr = graft.engine.Scratch.dir("spec_convert_resume")
    val cp = new org.apache.hadoop.fs.Path(cr)
    if (fs.exists(cp)) fs.delete(cp, true)
    (1L to 6L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartition(3).write.parquet(cr)
    val partsOnDisk = fs.listStatus(cp).filter(f => !f.isDirectory &&
      f.getPath.getName.endsWith(".parquet")).map(_.getPath)
    val half = new org.apache.hadoop.fs.Path(cp, "data-111-1")
    fs.mkdirs(half)
    assert(fs.rename(partsOnDisk.head,
      new org.apache.hadoop.fs.Path(half, partsOnDisk.head.getName)))
    val resumed = spark.sql(s"CONVERT TO GRAFT '$cr'").collect()(0)
    assert(resumed.getLong(2) === 1L)
    assert(AtomicPublish.currentSegments(spark, cr) === Seq("data-111-1"))
    assert(AtomicPublish.read(spark, cr).count() === 6L)
  }

  test("table_changes TVF: literal args only, exact arity") {
    wh
    spark.sql("CREATE TABLE util_cat.db.cdf (k BIGINT, v STRING) " +
      "TBLPROPERTIES ('merge.keys'='k')")
    spark.sql("INSERT INTO util_cat.db.cdf VALUES (1,'a')")
    val changes = spark.sql(
      "SELECT k, v, _change_type FROM " +
        "table_changes('util_cat.db.cdf', 1, 2)").collect()
    assert(changes.map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSeq === Seq((1L, "a", "insert")))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('util_cat.db.cdf', 1)")
    }
    assert(msgs(e).contains("exactly 3"), msgs(e))
    val e2 = intercept[Exception] {
      spark.sql("SELECT * FROM table_changes('util_cat.db.cdf', rand(), 2)")
    }
    assert(msgs(e2).contains("literal"), msgs(e2))
  }
}
