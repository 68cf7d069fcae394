package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.Tables

/** §2.1 sources/sinks: parquet scan, csv/json round-trips, in-memory
  * frames. Round-trip queries write a derived copy of a test table to a
  * scratch dir and read it back — proving the sink+source path while
  * keeping the DuckDB oracle a plain SELECT over the original parquet.
  * Reference surface: StreamingDataFrame.read_csv/read_json/read_df,
  * to_csv; dask read_parquet/to_parquet (SURVEY.md §2.1 [P]).
  */
object SourceQueries extends QueryGroup {

  private def scratch(name: String): String = graft.engine.Scratch.dir(name)

  def queries: Seq[GQuery] = Seq(

    GQuery("scan_parquet",
      (s, dir) => Tables(s, dir, "lineitem")
        .filter(col("l_orderkey") < 200)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
              FROM lineitem WHERE l_orderkey < 200
              ORDER BY l_orderkey, l_linenumber""")),

    GQuery("scan_csv",
      (s, dir) => {
        val path = scratch("nation_csv")
        Tables(s, dir, "nation").write.mode("overwrite")
          .option("header", "true").csv(path)
        val schema = StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))
        s.read.schema(schema).option("header", "true").csv(path)
          .orderBy("n_nationkey")
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey")),

    GQuery("scan_json",
      (s, dir) => {
        val path = scratch("events_json")
        Tables(s, dir, "events")
          .filter(col("event_id") < 500)
          .select("event_id", "user_id", "event_type")
          .write.mode("overwrite").json(path)
        val schema = StructType(Seq(
          StructField("event_id", LongType),
          StructField("user_id", LongType),
          StructField("event_type", StringType)))
        s.read.schema(schema).json(path)
          .select("event_id", "user_id", "event_type")
          .orderBy("event_id")
      },
      Some("""SELECT event_id, user_id, event_type FROM events
              WHERE event_id < 500 ORDER BY event_id""")),

    GQuery("from_df",
      (s, _) => {
        val rows = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"), (4L, "delta"))
        s.createDataFrame(rows).toDF("id", "tag").orderBy("id")
      },
      Some("""SELECT * FROM (VALUES (CAST(1 AS BIGINT),'alpha'),(2,'beta'),
              (3,'gamma'),(4,'delta')) AS t(id, tag) ORDER BY id""")),

    GQuery("sink_parquet",
      (s, dir) => {
        val path = scratch("orders_parquet")
        Tables(s, dir, "orders")
          .filter(col("o_orderkey") < 500)
          .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
          .write.mode("overwrite").parquet(path)
        s.read.parquet(path).orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
              FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey""")),

    // Compressed csv round-trip (reference zip/gzip io surface).
    GQuery("scan_csv_gzip",
      (s, dir) => {
        val path = scratch("region_csv_gz")
        Tables(s, dir, "region").write.mode("overwrite")
          .option("header", "true").option("compression", "gzip").csv(path)
        val schema = StructType(Seq(
          StructField("r_regionkey", IntegerType),
          StructField("r_name", StringType)))
        s.read.schema(schema).option("header", "true").csv(path)
          .orderBy("r_regionkey")
      },
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // Hive-partitioned parquet sink + pruned scan-back: the layout a
    // 100 TB table actually uses; the read applies partition pruning
    // (only the o_orderstatus=F directory is listed).
    GQuery("sink_parquet_partitioned",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val path = scratch("orders_part")
        Tables(s, dir, "orders")
          .write.mode("overwrite").partitionBy("o_orderstatus").parquet(path)
        s.read.parquet(path)
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
              WHERE o_orderstatus = 'F' ORDER BY o_orderkey""")),

    // Schema evolution across parquet generations (the 100 TB reality:
    // a long-lived table gains columns): two generations written with
    // different schemas, read back in ONE mergeSchema scan — old files
    // surface the new column as null, no rewrite of old data.
    GQuery("scan_parquet_evolved",
      (s, dir) => {
        import org.apache.spark.sql.functions.col
        val path = scratch("orders_evolved")
        val orders = Tables(s, dir, "orders")
        orders.filter(col("o_orderkey") < 200)
          .select("o_orderkey", "o_totalprice")
          .write.mode("overwrite").parquet(s"$path/g1")
        orders.filter(col("o_orderkey") >= 200 && col("o_orderkey") < 400)
          .select("o_orderkey", "o_totalprice", "o_orderstatus")
          .write.mode("overwrite").parquet(s"$path/g2")
        s.read.option("mergeSchema", "true")
          .parquet(s"$path/g1", s"$path/g2")
          .orderBy("o_orderkey")
      },
      Some("""SELECT * FROM (
                SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_orderstatus
                FROM orders WHERE o_orderkey < 200
                UNION ALL
                SELECT o_orderkey, o_totalprice, o_orderstatus
                FROM orders WHERE o_orderkey >= 200 AND o_orderkey < 400) t
              ORDER BY o_orderkey""")),

    // dask set_index/divisions analogue (graft.ops.RangeLayout): orders
    // persisted range-partitioned on o_orderdate, read back with a tight
    // date window. The divisions travel in the layout's _divisions.json
    // sidecar (dask persists divisions with the collection), so the
    // reader self-loads the boundaries, computes the overlapping
    // partition ids CLIENT-SIDE (dask's interval arithmetic) and Spark
    // prunes directories at listing time — PlanSpec asserts the
    // PartitionFilters on __rp.
    GQuery("scan_range_pruned",
      (s, dir) => {
        val path = scratch("orders_range")
        val divisions = (1996 to 2001).map(y => s"$y-01-01")
        graft.ops.RangeLayout.write(
          Tables(s, dir, "orders")
            .select("o_orderkey", "o_orderdate", "o_totalprice"),
          path, "o_orderdate", divisions)
        graft.ops.RangeLayout.read(s, path, "1997-03-01", "1997-06-01")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-03-01'
                AND o_orderdate < TIMESTAMP '1997-06-01'
              ORDER BY o_orderkey""")),

    // TWO-dimensional data-skipping round trip (Delta/Iceberg Z-ORDER
    // analogue, SURVEY §2.1/§4): orders Z-clustered on (o_orderdate,
    // o_totalprice), read back with a box predicate on BOTH dimensions.
    // The reader enumerates the overlapping Morton cells CLIENT-SIDE
    // from the sidecar divisions and emits them as a PartitionFilters
    // IN-list — directory pruning at file-listing time, then parquet
    // row-group min/max prunes again inside surviving cells (rows are
    // (x,y)-sorted per cell at write). The oracle is the plain
    // two-predicate SELECT over the original table.
    GQuery("scan_zorder_pruned",
      (s, dir) => {
        val path = scratch("orders_zorder")
        graft.ops.ZOrderLayout.write(
          Tables(s, dir, "orders")
            .select("o_orderkey", "o_orderdate", "o_totalprice"),
          path,
          "o_orderdate", (1996 to 2001).map(y => s"$y-01-01"),
          "o_totalprice", Seq("50000", "100000", "200000", "400000"))
        graft.ops.ZOrderLayout.read(s, path,
            "1997-03-01", "1998-03-01", "100000", "300000")
          .select("o_orderkey", "o_orderdate", "o_totalprice")
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, o_orderdate, o_totalprice FROM orders
              WHERE o_orderdate >= TIMESTAMP '1997-03-01'
                AND o_orderdate < TIMESTAMP '1998-03-01'
                AND o_totalprice >= 100000 AND o_totalprice < 300000
              ORDER BY o_orderkey""")),

    // Zip-archive round-trip (reference to_zip/read_zip): cluster-written
    // csv parts packed into one archive, read back via a parallel csv
    // scan over the unpacked entries (graft.engine.ZipIo).
    GQuery("zip_roundtrip",
      (s, dir) => {
        val path = scratch("customer_zip") + "/customer.zip"
        graft.engine.ZipIo.writeZip(Tables(s, dir, "customer"), path)
        val schema = StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType)))
        graft.engine.ZipIo.readZip(s, path, schema)
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
              FROM customer ORDER BY c_custkey""")),

    GQuery("sink_csv",
      (s, dir) => {
        val path = scratch("customer_csv")
        Tables(s, dir, "customer").write.mode("overwrite")
          .option("header", "true").csv(path)
        val schema = StructType(Seq(
          StructField("c_custkey", LongType),
          StructField("c_name", StringType),
          StructField("c_nationkey", IntegerType),
          StructField("c_acctbal", DoubleType),
          StructField("c_mktsegment", StringType)))
        s.read.schema(schema).option("header", "true").csv(path)
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
              FROM customer ORDER BY c_custkey""")),

    // JSON-lines sink + read-back round trip (the third sink format the
    // reference surface exposes). Explicit schema on re-read — schema
    // inference is a full extra pass at 100 TB; never rely on it.
    // Doubles round-trip bit-exact through Spark's JSON writer
    // (shortest-round-trip formatting), so the oracle hash holds.
    GQuery("sink_json",
      (s, dir) => {
        val path = scratch("supplier_json")
        Tables(s, dir, "supplier").write.mode("overwrite").json(path)
        val schema = StructType(Seq(
          StructField("s_suppkey", LongType),
          StructField("s_name", StringType),
          StructField("s_nationkey", IntegerType),
          StructField("s_acctbal", DoubleType)))
        s.read.schema(schema).json(path).orderBy("s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
              FROM supplier ORDER BY s_suppkey""")),

    // ORC sink + read-back round trip: Spark's second native columnar
    // format (vectorized reader, predicate pushdown, same writer
    // pipeline as parquet). Explicit schema on re-read, as everywhere.
    GQuery("sink_orc",
      (s, dir) => {
        val path = scratch("nation_orc")
        Tables(s, dir, "nation").write.mode("overwrite").orc(path)
        s.read.schema(StructType(Seq(
          StructField("n_nationkey", IntegerType),
          StructField("n_name", StringType),
          StructField("n_regionkey", IntegerType)))).orc(path)
          .orderBy("n_nationkey")
      },
      Some("""SELECT n_nationkey, n_name, n_regionkey
              FROM nation ORDER BY n_nationkey""")),

    // Bucket pruning: equality/IN filters on the bucket column of a
    // bucketed table scan only the matching buckets — the third
    // data-skipping axis after range (scan_range_pruned) and Z-order
    // (scan_zorder_pruned). Here the IN-list hashes into a subset of
    // the 8 buckets, so Spark's FileSourceScanExec skips the rest at
    // listing time (plan shows `SelectedBucketsCount: n out of 8`;
    // PlanSpec-asserted). At 100 TB a key-probe query reads 1/N of the
    // table with NO sidecar index — the layout IS the index, and the
    // same bucketed copy also feeds the shuffle-free join_bucketed.
    GQuery("scan_bucket_pruned",
      (s, dir) => {
        val lt = graft.engine.Scratch.bucketedTable(s, dir, "lineitem", "l_orderkey")
        // Pure key-probe scans have no join/agg to interpret the bucket
        // layout, so DisableUnnecessaryBucketedScan would flip the scan
        // back to un-bucketed and forfeit the pruning. Build against a
        // child session that keeps bucketed scans on — conf is captured
        // by the DataFrame, the parent session is untouched.
        val sb = s.newSession()
        sb.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
        import sb.implicits._
        sb.table(lt)
          .filter($"l_orderkey".isin(1L, 2L, 3L, 4L, 5L, 6L, 7L, 32L, 33L, 34L))
          .select($"l_orderkey", $"l_linenumber", $"l_quantity")
          .orderBy($"l_orderkey", $"l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
              WHERE l_orderkey IN (1,2,3,4,5,6,7,32,33,34)
              ORDER BY l_orderkey, l_linenumber""")),

    // Small-file compaction — the maintenance job that keeps a table
    // scannable after thousands of incremental writes: fragment
    // supplier into 64 tiny files, then ops.Compact.rewrite sizes the
    // output partition count from the REAL listed bytes and round-robin
    // rewrites toward the target file size. Content must round-trip
    // exactly (oracle = the plain table); MaintenanceSpec asserts the
    // file-count collapse. At 100 TB this runs per partition-directory
    // — never a global rewrite.
    GQuery("compact_small_files",
      (s, dir) => {
        import s.implicits._
        val frag = scratch("supplier_frag")
        val out = scratch("supplier_compact")
        Tables(s, dir, "supplier").repartition(64)
          .write.mode("overwrite").parquet(frag)
        graft.ops.Compact.rewrite(s, frag, out, targetBytes = 8L * 1024 * 1024)
          .orderBy($"s_suppkey")
      },
      Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
              FROM supplier ORDER BY s_suppkey""")),

    // SQL FRONT DOOR for the table protocol (round-13 gap: a manifest
    // table — merge-sink state, published indexes — was reachable only
    // through the ops API; a SQL user couldn't touch it). A CDC batch
    // lands on a PUBLISHED customer table via MergeInto.upsertInto
    // (round 15: merge-on-read — the batch commits as an UPSERT
    // segment, write ∝ batch), the table is then FOLDED
    // (MergeInto.compactMerged, the optimistic-CAS compaction) — the
    // path-based SQL source deliberately refuses unfolded
    // merge-on-read tables, the boundary Delta draws for path readers
    // of deletion-vector tables — and BOTH the catalog binding and the
    // read are then pure SQL TEXT over the DSv2 `graft` source
    // (graft.sources.GraftTableSource — manifest-resolving paths,
    // inherited parquet pruning/pushdown): CREATE TEMPORARY VIEW …
    // USING graft, then a plain aggregate. SqlFrontDoorSpec pins the
    // source's pushdown/snapshot/refusal semantics and sameResult plan
    // equality for the registerView shim; the oracle reconstructs the
    // merged state from the base table, so the whole
    // publish→merge→fold→USING graft→SQL loop is hash-graded.
    GQuery("published_table_sql",
      (s, dir) => {
        import s.implicits._
        val table = scratch("pubsql_customer")
        val target = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, table)(p => target.write.parquet(p))
        val updates = target.filter($"c_custkey" % 10 === 3)
          .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        val inserts = target.filter($"c_custkey" % 97 === 0)
          .withColumn("c_custkey", $"c_custkey" + 5000000000L)
        graft.ops.MergeInto.upsertInto(s, table,
          updates.unionByName(inserts), Seq("c_custkey"))
        graft.ops.MergeInto.compactMerged(s, table)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_pub_customer
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_pub_customer
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""WITH src AS (
                SELECT c_custkey, c_name, c_nationkey,
                       c_acctbal + 100.0 AS c_acctbal, c_mktsegment
                FROM customer WHERE c_custkey % 10 = 3
                UNION ALL
                SELECT c_custkey + 5000000000, c_name, c_nationkey,
                       c_acctbal, c_mktsegment
                FROM customer WHERE c_custkey % 97 = 0),
              merged AS (
                SELECT * FROM customer t WHERE NOT EXISTS
                  (SELECT 1 FROM src WHERE src.c_custkey = t.c_custkey)
                UNION ALL
                SELECT * FROM src)
              SELECT c_mktsegment, COUNT(*) AS n_cust,
                ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM merged GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // NAME-RESOLVED CATALOG (round 16): the TableCatalog plugin
    // (graft.sources.GraftCatalog) binds `graft_cat.db.table` in plain
    // SQL text — CREATE NAMESPACE, SELECT by name, and the
    // SQL-STANDARD `VERSION AS OF` clause (the catalog door for time
    // travel; the path door spells it OPTIONS(versionAsOf)) — all
    // resolving warehouse/db/table directories through the SAME DSv2
    // the path door uses, so pruning/pushdown/write-refusal carry
    // over. The key publishes v1 (90% of customers), appends v2 (the
    // rest), then one SQL statement joins the CURRENT name against
    // its own `VERSION AS OF 1` to label each row's presence at v1 —
    // if name resolution read the wrong path, or VERSION AS OF
    // silently served the current state, n_v1 diverges and the hash
    // fails. Catalog metadata ops are directory ops — zero cost in
    // rows at any scale. CatalogSpec pins DDL, SHOW TABLES, welded
    // writes, TIMESTAMP AS OF, drop/rename.
    GQuery("catalog_table_sql",
      (s, dir) => {
        import s.implicits._
        val wh = scratch("cat_wh")
        s.conf.set("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_cat.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.db")
        // reset: bench reruns share the JVM-scoped scratch, and the
        // graded SQL names version 1 literally
        val t = s"$wh/db/customer_cat"
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        val cust = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, t)(p =>
          cust.filter($"c_custkey" % 10 =!= 3).write.parquet(p))   // v1
        graft.ops.AtomicPublish.appendSegment(s, t)(p =>
          cust.filter($"c_custkey" % 10 === 3).write.parquet(p))   // v2
        s.sql(s"""SELECT t.c_mktsegment, COUNT(*) AS n_cust,
                  COUNT(v1.c_custkey) AS n_v1,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_cat.db.customer_cat t
                  LEFT JOIN (SELECT c_custkey
                             FROM graft_cat.db.customer_cat VERSION AS OF 1) v1
                    USING (c_custkey)
                  GROUP BY t.c_mktsegment ORDER BY t.c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
              CAST(SUM(CASE WHEN c_custkey % 10 <> 3 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_v1,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // SQL WRITE DOOR (round 16): the catalog's tables WRITE through
    // the commit protocol — CTAS = CREATE + one append commit,
    // INSERT INTO = one append commit (write ∝ the batch; a daily
    // 100 TB ingest appends a day, never rewrites the corpus). The
    // key lands the table in two halves through two SQL statements
    // and aggregates the union read back BY NAME: a dropped or
    // double-applied commit diverges n_cust/sum_bal from the oracle
    // over the original parquet. The PATH door (`USING graft`) keeps
    // refusing writes — CatalogSpec pins both sides of that line.
    GQuery("sql_insert_catalog",
      (s, dir) => {
        val wh = scratch("sqldml_wh")
        s.conf.set("spark.sql.catalog.graft_dml", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dml.dml")
        val tp = new org.apache.hadoop.fs.Path(s"$wh/dml/cust_ins")
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        Tables(s, dir, "customer").createOrReplaceTempView("cust_src_ins")
        s.sql("""CREATE TABLE graft_dml.dml.cust_ins AS
                 SELECT c_custkey, c_mktsegment, c_acctbal
                 FROM cust_src_ins WHERE c_custkey % 10 < 5""")
        s.sql("""INSERT INTO graft_dml.dml.cust_ins
                 SELECT c_custkey, c_mktsegment, c_acctbal
                 FROM cust_src_ins WHERE c_custkey % 10 >= 5""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_dml.dml.cust_ins
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // INSERT OVERWRITE through the catalog = a NEW PUBLISHED VERSION,
    // not a delete-then-write: the pre-overwrite state stays
    // time-travel readable for the retention window. The key
    // overwrites the CTAS'd lower half with the upper half and reads
    // BOTH states in one statement — the current aggregate plus a
    // scalar subquery over `VERSION AS OF 2` (the post-CTAS commit).
    // If OVERWRITE leaked old rows into the current state, n_now
    // diverges; if it DESTROYED the old version (the mode("overwrite")
    // failure shape the protocol exists to prevent), n_old does. At
    // 100 TB the overwrite costs the new data's write + a manifest
    // swap; the old version ages out via retention GC, not delete.
    GQuery("sql_insert_overwrite",
      (s, dir) => {
        val wh = scratch("sqldml_wh")
        s.conf.set("spark.sql.catalog.graft_dml", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_dml.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_dml.dml")
        val tp = new org.apache.hadoop.fs.Path(s"$wh/dml/cust_ovw")
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        Tables(s, dir, "customer").createOrReplaceTempView("cust_src_ovw")
        s.sql("""CREATE TABLE graft_dml.dml.cust_ovw AS
                 SELECT c_custkey, c_mktsegment, c_acctbal
                 FROM cust_src_ovw WHERE c_custkey % 10 < 5""")
        require(graft.ops.AtomicPublish.currentVersion(s, s"$wh/dml/cust_ovw")
          .contains(2L), "sql_insert_overwrite: CTAS must land create+append")
        s.sql("""INSERT OVERWRITE graft_dml.dml.cust_ovw
                 SELECT c_custkey, c_mktsegment, c_acctbal
                 FROM cust_src_ovw WHERE c_custkey % 10 >= 5""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_now,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal,
                  (SELECT COUNT(*)
                   FROM graft_dml.dml.cust_ovw VERSION AS OF 2) AS n_old
                  FROM graft_dml.dml.cust_ovw
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_now,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal,
              (SELECT COUNT(*) FROM customer WHERE c_custkey % 10 < 5) AS n_old
              FROM customer WHERE c_custkey % 10 >= 5
              GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // TIME TRAVEL (round 15): every manifest swap logs its segment list
    // to a version log; `versionAsOf` on the graft source resolves any
    // version the retention window still holds. The key publishes a
    // base (version N), MERGES an update batch on top (merge-on-read
    // upsert segment), FOLDS it — then reads version N back BY SQL and
    // aggregates. The oracle is the same aggregate over the ORIGINAL
    // table: if time travel silently served the merged state (the +100
    // balance updates), sum_bal differs and the hash fails — the one
    // thing a snapshot read must never do. At 100 TB the travel window
    // is pure metadata: superseded directories are already retained for
    // readers (RetentionMsKey); the log adds one manifest-sized file
    // per commit.
    GQuery("snapshot_read",
      (s, dir) => {
        import s.implicits._
        val table = scratch("snap_customer")
        val target = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, table)(p => target.write.parquet(p))
        val base = graft.ops.AtomicPublish.currentVersion(s, table)
          .getOrElse(sys.error("version log missing after publish"))
        val updates = target.filter($"c_custkey" % 10 === 3)
          .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        graft.ops.MergeInto.upsertInto(s, table, updates, Seq("c_custkey"))
        graft.ops.MergeInto.compactMerged(s, table)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_snap_customer
                  USING graft OPTIONS (path '$table', versionAsOf '$base')""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_snap_customer
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // RESTORE — write-side time travel (round 15): after a bad merge
    // lands, the operator's move is not "read yesterday" (snapshot_read)
    // but "make the table BE yesterday again". restoreTable commits a
    // NEW version whose manifest names the restored version's still-
    // retained directories — pure metadata, no data moves, history
    // intact (the undone commits stay travel-readable). The key buries
    // the base under an upsert (+100 balances) AND a row-level delete,
    // restores, and aggregates the CURRENT table: if restore leaked
    // either the updates or the tombstones, sum_bal or n_cust diverges
    // from the oracle over the ORIGINAL table. At 100 TB a restore
    // costs one manifest swap regardless of table size.
    GQuery("snapshot_restore",
      (s, dir) => {
        import s.implicits._
        val table = scratch("restore_customer")
        val target = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, table)(p => target.write.parquet(p))
        val base = graft.ops.AtomicPublish.currentVersion(s, table)
          .getOrElse(sys.error("version log missing after publish"))
        val updates = target.filter($"c_custkey" % 10 === 3)
          .withColumn("c_acctbal", $"c_acctbal" + 100.0)
        graft.ops.MergeInto.upsertInto(s, table, updates, Seq("c_custkey"))
        graft.ops.MergeInto.deleteFrom(s, table,
          target.filter($"c_custkey" % 13 === 5), Seq("c_custkey"))
        graft.ops.AtomicPublish.restoreTable(s, table, base)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_restored_customer
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_restored_customer
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // DESCRIBE HISTORY (round 16): the audit surface every lakehouse
    // user reaches for after an incident — one row per retained
    // commit, operation CLASSIFIED from the version log + sidecars
    // alone (no separate operation journal to drift). The key drives
    // every commit shape the protocol has — publish, append, MERGE,
    // DELETE, atomic SYNC (2 segments, one commit), OPTIMIZE fold,
    // RESTORE, partial REPLACE — and the oracle pins the classified
    // ledger literally. Timestamps are real but nondeterministic, so
    // the graded projection excludes them.
    GQuery("table_history",
      (s, dir) => {
        import s.implicits._
        val table = scratch("history_t")
        def df(rows: (Long, String)*) = rows.toDF("k", "v")
        graft.ops.AtomicPublish.publish(s, table)(p =>            // v1
          df(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d").write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>      // v2
          df(10L -> "j", 11L -> "k").write.parquet(p))
        graft.ops.MergeInto.upsertInto(s, table,                  // v3
          df(2L -> "b2"), Seq("k"))
        graft.ops.MergeInto.deleteFrom(s, table,                  // v4
          Seq(3L).toDF("k"), Seq("k"))
        graft.ops.MergeInto.syncInto(s, table,                    // v5
          df(1L -> "a", 2L -> "b2", 4L -> "d", 10L -> "j", 11L -> "k",
             20L -> "t"), Seq("k"))
        graft.ops.MergeInto.compactMerged(s, table)               // v6
        graft.ops.AtomicPublish.restoreTable(s, table, 2L)        // v7
        graft.ops.MergeInto.replaceWhere(s, table,                // v8
          $"k" <= 2L, df(1L -> "r1"))
        graft.ops.AtomicPublish.tableHistory(s, table)
          .select($"version", $"operation", $"num_segments",
            $"num_added", $"is_fold")
          .orderBy($"version")
      },
      Some("""SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), 'PUBLISH',  1, 1, false),
                (CAST(2 AS BIGINT), 'APPEND',   2, 1, false),
                (CAST(3 AS BIGINT), 'MERGE',    3, 1, false),
                (CAST(4 AS BIGINT), 'DELETE',   4, 1, false),
                (CAST(5 AS BIGINT), 'SYNC',     6, 2, false),
                (CAST(6 AS BIGINT), 'OPTIMIZE', 1, 0, true),
                (CAST(7 AS BIGINT), 'RESTORE',  2, 0, false),
                (CAST(8 AS BIGINT), 'REPLACE',  3, 0, false))
                t(version, operation, num_segments, num_added, is_fold)
              ORDER BY version""")),

    // VACUUM (round 16): the explicit retention reaper, graded. After
    // a fold supersedes the base+append dirs, vacuum at retention 0
    // must (a) physically delete the superseded `data-*` dirs — the
    // in-key directory count pins it — (b) age the dead version-log
    // entries out so time travel to them refuses LOUDLY, and (c) leave
    // the live manifest byte-identical (content hash-graded against
    // the oracle). What a 100 TB operator runs nightly to keep dead
    // bytes from accumulating ∝ churn.
    GQuery("vacuum_retention",
      (s, dir) => {
        import s.implicits._
        val table = scratch("vac_t")
        val cust = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, table)(p =>
          cust.filter($"c_custkey" % 2 === 0).write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          cust.filter($"c_custkey" % 2 === 1).write.parquet(p))
        graft.ops.AtomicPublish.compactSegments(s, table) {
          (paths, staging) =>
            // readOver resolves the segment schemas from their footers
            // (no datasource-resolution job; plain segments take its
            // one-scan fast path)
            graft.ops.AtomicPublish.readOver(s, table,
                paths.map(p => p.substring(p.lastIndexOf('/') + 1)))
              .write.parquet(staging)
        }
        s.conf.set(graft.engine.GraftConf.RetentionMs.key, "0")
        try graft.ops.AtomicPublish.vacuum(s, table)
        finally s.conf.unset(graft.engine.GraftConf.RetentionMs.key)
        val root = new org.apache.hadoop.fs.Path(table)
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val dataDirs = fs.listStatus(root).count(f =>
          f.isDirectory && f.getPath.getName.startsWith("data-"))
        val refused =
          try { graft.ops.AtomicPublish.readAt(s, table, 1L).count(); false }
          catch { case _: IllegalStateException => true }
        graft.ops.AtomicPublish.read(s, table)
          .agg(count(lit(1)).as("n_rows"))
          .withColumn("data_dirs_on_disk", lit(dataDirs))
          .withColumn("aged_read_refused", lit(refused))
      },
      Some("""SELECT COUNT(*) AS n_rows, 1 AS data_dirs_on_disk,
                     true AS aged_read_refused
              FROM customer""")),

    // SQL UTILITY SURFACE, history half (round 16): `DESCRIBE HISTORY`
    // as SQL TEXT — the parser-extension door Delta ships
    // (DeltaSqlParser), here graft.plans.GraftSqlParser fronting the
    // session parser: four utility verbs recognized by anchored
    // grammar, everything else delegated verbatim. This key drives a
    // seven-commit ledger ENTIRELY through SQL (CTAS, INSERT, MERGE,
    // DELETE, OPTIMIZE, RESTORE … TO VERSION AS OF) and grades the
    // classified history the same way table_history does — but every
    // verb enters through sqlText, so a regression in the parser, the
    // DML rule, or the commands diverges the VALUES oracle.
    GQuery("sql_describe_history",
      (s, dir) => {
        val wh = scratch("sqlutil_wh")
        s.conf.set("spark.sql.catalog.graft_util", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_util.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_util.util")
        val t = s"$wh/util/cust_hist"
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        Tables(s, dir, "customer").createOrReplaceTempView("cust_src_hist")
        s.sql("""CREATE TABLE graft_util.util.cust_hist
                 TBLPROPERTIES ('merge.keys'='c_custkey') AS
                 SELECT * FROM cust_src_hist WHERE c_custkey % 3 = 0""") // v1+v2
        s.sql("""INSERT INTO graft_util.util.cust_hist
                 SELECT * FROM cust_src_hist WHERE c_custkey % 3 = 1""") // v3
        s.sql("""MERGE INTO graft_util.util.cust_hist t
                 USING (SELECT c_custkey, c_name, c_nationkey,
                          CASE WHEN c_custkey % 6 = 0
                               THEN c_acctbal + 100.0 ELSE c_acctbal END
                            AS c_acctbal,
                          c_mktsegment
                        FROM cust_src_hist
                        WHERE c_custkey % 6 = 0
                           OR (c_custkey % 3 = 2 AND c_custkey % 2 = 0)) s
                 ON t.c_custkey = s.c_custkey
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")                      // v4
        s.sql("""DELETE FROM graft_util.util.cust_hist
                 WHERE c_custkey % 9 = 0""")                             // v5
        s.sql("OPTIMIZE graft_util.util.cust_hist")                      // v6
        val restored = s.sql(
          "RESTORE TABLE graft_util.util.cust_hist TO VERSION AS OF 3")
          .collect()(0)
        require(restored.getLong(1) == 3L && restored.getLong(2) == 7L,  // v7
          s"sql_describe_history: RESTORE returned $restored, expected " +
            "(path, 3, 7)")
        s.sql("DESCRIBE HISTORY graft_util.util.cust_hist")
          .select(col("version"), col("operation"), col("num_segments"),
            col("num_added"), col("is_fold"))
          .orderBy(col("version"))
      },
      Some("""SELECT * FROM (VALUES
                (CAST(1 AS BIGINT), 'PUBLISH',  1, 1, false),
                (CAST(2 AS BIGINT), 'APPEND',   2, 1, false),
                (CAST(3 AS BIGINT), 'APPEND',   3, 1, false),
                (CAST(4 AS BIGINT), 'MERGE',    4, 1, false),
                (CAST(5 AS BIGINT), 'DELETE',   5, 1, false),
                (CAST(6 AS BIGINT), 'OPTIMIZE', 1, 0, true),
                (CAST(7 AS BIGINT), 'RESTORE',  3, 0, false))
                t(version, operation, num_segments, num_added, is_fold)
              ORDER BY version""")),

    // SQL UTILITY SURFACE, maintenance half (round 16): OPTIMIZE …
    // ZORDER BY and VACUUM … RETAIN as SQL text. The key clusters a
    // date-sliced orders table through SQL (full rewrite, then an
    // INCREMENTAL re-optimize after a date-bounded append — the
    // in-key require pins that clustered base segments actually
    // SURVIVED in place, the ∝-new-data property), then VACUUMs at
    // retention 0 and pins that superseded directories were
    // physically deleted — all while the content hash stays the
    // oracle's. The nightly 100 TB maintenance loop, spelled in SQL.
    GQuery("sql_optimize_vacuum",
      (s, dir) => {
        import s.implicits._
        val wh = scratch("sqlutil_wh")
        s.conf.set("spark.sql.catalog.graft_util", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_util.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_util.util")
        val t = s"$wh/util/orders_opt"
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        Tables(s, dir, "orders").createOrReplaceTempView("ord_src_opt")
        s.sql("""CREATE TABLE graft_util.util.orders_opt AS
                 SELECT * FROM ord_src_opt
                 WHERE o_orderdate < TIMESTAMP '1995-01-01'""")
        s.sql("""INSERT INTO graft_util.util.orders_opt
                 SELECT * FROM ord_src_opt
                 WHERE o_orderdate >= TIMESTAMP '1995-01-01'
                   AND o_orderdate < TIMESTAMP '1997-01-01'""")
        s.sql("""INSERT INTO graft_util.util.orders_opt
                 SELECT * FROM ord_src_opt
                 WHERE o_orderdate >= TIMESTAMP '1997-01-01'
                   AND o_orderdate < TIMESTAMP '1999-01-01'""")
        s.sql("""INSERT INTO graft_util.util.orders_opt
                 SELECT * FROM ord_src_opt
                 WHERE o_orderdate >= TIMESTAMP '1999-01-01'
                   AND o_orderdate < TIMESTAMP '2001-01-01'""")
        val full = s.sql(
          "OPTIMIZE graft_util.util.orders_opt ZORDER BY (o_orderdate)")
          .collect()(0)
        require(full.getString(1) == "ZORDER" &&
          full.getString(2) == "COMPACTED",
          s"sql_optimize_vacuum: full ZORDER returned $full")
        // a date-bounded tail lands, then the SAME statement runs
        // INCREMENTALLY (the recorded layout matches): clustered
        // segments disjoint from the tail's date range must survive
        val base = graft.ops.AtomicPublish.currentSegments(s, t).toSet
        s.sql("""INSERT INTO graft_util.util.orders_opt
                 SELECT * FROM ord_src_opt
                 WHERE o_orderdate >= TIMESTAMP '2001-01-01'""")
        val inc = s.sql(
          "OPTIMIZE graft_util.util.orders_opt ZORDER BY (o_orderdate)")
          .collect()(0)
        require(inc.getString(2) == "COMPACTED",
          s"sql_optimize_vacuum: incremental ZORDER returned $inc")
        val after = graft.ops.AtomicPublish.currentSegments(s, t).toSet
        val kept = (base intersect after).size
        require(kept >= base.size / 2,
          s"sql_optimize_vacuum: incremental OPTIMIZE kept only $kept of " +
            s"${base.size} clustered segments — it re-paid the corpus")
        val vac = s.sql(
          "VACUUM graft_util.util.orders_opt RETAIN 0 HOURS").collect()(0)
        require(vac.getLong(1) > 0L,
          "sql_optimize_vacuum: VACUUM at retention 0 deleted nothing " +
            "after two supersessions")
        s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
                  ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
                  FROM graft_util.util.orders_opt
                  GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // DESCRIBE DETAIL + ALTER TABLE TBLPROPERTIES (round 16): the
    // one-row operational summary (Delta's DESCRIBE DETAIL shape —
    // version, live/pending segment counts, clustering layout, merge
    // identity, properties) and the property-management ALTER. Pure
    // metadata both ways: a manifest read + sidecar listings, never a
    // data scan. The key drives a keyed table into a pending-merge
    // state, describes it, ALTERs a property in, and describes again —
    // the VALUES oracle pins version, segment counts, pending-merge
    // visibility and the property round-trip.
    GQuery("sql_describe_detail",
      (s, dir) => {
        val wh = scratch("sqlutil_wh")
        s.conf.set("spark.sql.catalog.graft_util", "graft.sources.GraftCatalog")
        s.conf.set("spark.sql.catalog.graft_util.warehouse", wh)
        s.sql("CREATE NAMESPACE IF NOT EXISTS graft_util.util")
        val t = s"$wh/util/cust_det"
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        Tables(s, dir, "customer").createOrReplaceTempView("cust_src_det")
        s.sql("""CREATE TABLE graft_util.util.cust_det
                 TBLPROPERTIES ('merge.keys'='c_custkey') AS
                 SELECT * FROM cust_src_det WHERE c_custkey % 2 = 0""") // v1+v2
        s.sql("""INSERT INTO graft_util.util.cust_det
                 SELECT * FROM cust_src_det WHERE c_custkey % 2 = 1""") // v3
        s.sql("""MERGE INTO graft_util.util.cust_det t
                 USING (SELECT c_custkey, c_name, c_nationkey,
                               c_acctbal + 1.0 AS c_acctbal, c_mktsegment
                        FROM cust_src_det WHERE c_custkey % 10 = 0) s
                 ON t.c_custkey = s.c_custkey
                 WHEN MATCHED THEN UPDATE SET *
                 WHEN NOT MATCHED THEN INSERT *""")                     // v4
        def detail(stage: String) =
          s.sql("DESCRIBE DETAIL graft_util.util.cust_det")
            .select(lit(stage).as("stage"), col("format"),
              col("current_version"), col("num_segments"),
              col("pending_merge_segments"), col("cluster_by"),
              col("merge_keys"), col("properties"))
        val before = detail("1_merged")
        s.sql("""ALTER TABLE graft_util.util.cust_det
                 SET TBLPROPERTIES ('note'='reviewed')""")
        before.unionByName(detail("2_altered")).orderBy(col("stage"))
      },
      Some("""SELECT * FROM (VALUES
                ('1_merged',  'graft', CAST(4 AS BIGINT), 4, 1,
                 CAST(NULL AS VARCHAR), 'c_custkey',
                 'merge.keys=c_custkey'),
                ('2_altered', 'graft', CAST(4 AS BIGINT), 4, 1,
                 CAST(NULL AS VARCHAR), 'c_custkey',
                 'merge.keys=c_custkey;note=reviewed'))
                t(stage, format, current_version, num_segments,
                  pending_merge_segments, cluster_by, merge_keys, properties)
              ORDER BY stage""")),

    // IN-PLACE CONVERSION (round 16): `CONVERT TO GRAFT '/path'` —
    // Delta's CONVERT TO DELTA move. Adopting an existing parquet lake
    // must cost METADATA: the part files RENAME into a segment dir
    // (zero bytes moved — the in-key require pins that the adopted
    // files' names survived verbatim), zonemaps harvest from footers
    // already on disk, and the manifest commits under the normal lock.
    // After conversion the directory is a first-class table: the key
    // APPENDS the other half through the protocol and hash-grades the
    // union read — at 100 TB this is "join the lakehouse today",
    // not "rewrite the lake first".
    GQuery("convert_in_place",
      (s, dir) => {
        import s.implicits._
        val t = scratch("convert_orders")
        val tp = new org.apache.hadoop.fs.Path(t)
        val fs = tp.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(tp)) fs.delete(tp, true)
        val orders = Tables(s, dir, "orders")
        // the pre-graft lake: a plain spark parquet directory
        orders.filter($"o_orderkey" % 2 === 0).repartition(4)
          .write.parquet(t)
        val preNames = fs.listStatus(tp).filter(f => !f.isDirectory &&
          f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath.getName).toSet
        val row = s.sql(s"CONVERT TO GRAFT '$t'").collect()(0)
        require(row.getInt(1) == preNames.size && row.getLong(2) == 1L,
          s"convert_in_place: CONVERT returned $row for " +
            s"${preNames.size} part files")
        val segs = graft.ops.AtomicPublish.currentSegments(s, t)
        require(segs.length == 1,
          s"convert_in_place: expected one adopted segment, got $segs")
        val inSeg = fs.listStatus(new org.apache.hadoop.fs.Path(tp, segs.head))
          .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
        require(inSeg == preNames,
          "convert_in_place: adopted file names changed — the conversion " +
            "must RENAME, never rewrite")
        require(fs.exists(new org.apache.hadoop.fs.Path(tp,
          graft.ops.ZoneMaps.ZonePrefix + segs.head)),
          "convert_in_place: no zonemap sidecar harvested for the " +
            "adopted segment")
        // a first-class table now: append the other half via the protocol
        graft.ops.AtomicPublish.appendSegment(s, t)(p =>
          orders.filter($"o_orderkey" % 2 === 1).write.parquet(p))
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_converted
                  USING graft OPTIONS (path '$t')""")
        s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
                  ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
                  FROM graft_converted
                  GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
              FROM orders GROUP BY o_orderpriority
              ORDER BY o_orderpriority""")),

    // MANIFEST ZONEMAP PRUNING (round 15): commits stamp per-segment
    // column min/max sidecars from the parquet footers already written
    // (no second scan); the graft source's file index drops whole
    // segments whose range cannot satisfy the pushed data filters —
    // parquet row-group skipping lifted to the manifest level, so a
    // date predicate over a daily-append table schedules tasks for the
    // matching days only, never the corpus. Here orders lands as three
    // date-range segments (one publish + two appends — the LSM shape),
    // and the SQL predicate admits only the last; PlanSpec asserts the
    // scan's file count actually dropped, this key hash-grades that
    // pruning never changes RESULTS (the conservative-only contract).
    GQuery("scan_manifest_pruned",
      (s, dir) => {
        import s.implicits._
        val table = scratch("zonemap_orders")
        val orders = Tables(s, dir, "orders")
        def slice(lo: String, hi: String) = orders.filter(
          $"o_orderdate" >= lit(lo).cast("timestamp") &&
            $"o_orderdate" < lit(hi).cast("timestamp"))
        graft.ops.AtomicPublish.publish(s, table)(p =>
          slice("1970-01-01", "1997-01-01").write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          slice("1997-01-01", "1999-01-01").write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          slice("1999-01-01", "2031-01-01").write.parquet(p))
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_zone_orders
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
                  ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
                  FROM graft_zone_orders
                  WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00'
                  GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1999-06-01 00:00:00'
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // EXACTLY-ONCE WRITER MARKS (round 15): Structured Streaming
    // replays the last micro-batch after a crash; without a
    // transaction fence the replayed (appId, batchId) lands twice —
    // the classic duplicated-sink bug. appendSegmentTxn records the
    // (appId, version) high-water mark atomically with the manifest
    // swap and SKIPS any append at-or-below it (checked before staging
    // AND inside the commit window; compaction carries marks forward).
    // The key REPLAYS both of its batches — if idempotence leaked,
    // every replayed row double-counts and the hash diverges. Delta's
    // txnAppId/txnVersion shape.
    GQuery("idempotent_append",
      (s, dir) => {
        import s.implicits._
        val table = scratch("txn_customer")
        val cust = Tables(s, dir, "customer")
        graft.ops.AtomicPublish.publish(s, table)(p =>
          cust.filter($"c_custkey" % 2 === 0).write.parquet(p))
        val b1 = cust.filter($"c_custkey" % 4 === 1)
        val b2 = cust.filter($"c_custkey" % 4 === 3)
        def send(batch: org.apache.spark.sql.DataFrame, v: Long) =
          graft.ops.AtomicPublish.appendSegmentTxn(s, table, "loader", v)(
            p => batch.write.parquet(p))
        require(send(b1, 1L).isDefined, "first batch must land")
        require(send(b1, 1L).isEmpty, "replayed batch must be skipped")
        require(send(b2, 2L).isDefined, "next batch must land")
        require(send(b2, 2L).isEmpty && send(b1, 1L).isEmpty,
          "replays at/below the high-water mark must be skipped")
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_txn_customer
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
                  ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
                  FROM graft_txn_customer
                  GROUP BY c_mktsegment ORDER BY c_mktsegment""")
      },
      Some(s"""SELECT c_mktsegment, COUNT(*) AS n_cust,
              ${graft.engine.Det.sql.dsum("c_acctbal")} AS sum_bal
              FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""")),

    // OPTIMIZE / CLUSTERING REWRITE (round 15): the missing half of
    // manifest data skipping. Arrival-ordered appends give every
    // segment the FULL key range — zonemaps prove nothing, every scan
    // touches every segment. optimizeTable range-partitions the table
    // into range-DISJOINT sorted segments (one corpus shuffle, staged
    // lock-free, CAS-committed), after which the same zonemaps prune a
    // date predicate to the few admitting segments AND parquet
    // row-group stats prune inside them (rows arrive sorted). Here
    // orders lands as three orderkey-sliced segments (each spanning all
    // dates — the pruning-hostile layout), gets clustered on
    // o_orderdate into 6 segments, and the date query is graded
    // hash-green; PlanSpec pins that the post-optimize scan reads
    // FEWER files than the pre-optimize one. Pay-once-to-prune-forever:
    // run at compaction cadence, never per batch.
    GQuery("optimize_cluster_pruned",
      (s, dir) => {
        import s.implicits._
        val table = scratch("optimize_orders")
        val orders = Tables(s, dir, "orders")
        graft.ops.AtomicPublish.publish(s, table)(p =>
          orders.filter($"o_orderkey" % 3 === 0).write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          orders.filter($"o_orderkey" % 3 === 1).write.parquet(p))
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          orders.filter($"o_orderkey" % 3 === 2).write.parquet(p))
        val out = graft.ops.AtomicPublish.optimizeTable(s, table,
          clusterBy = Seq("o_orderdate"), segments = 6)
        require(out.isInstanceOf[
          graft.ops.AtomicPublish.CompactOutcome.Compacted],
          s"optimizeTable did not commit: $out")
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_opt_orders
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
                  ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
                  FROM graft_opt_orders
                  WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
                  GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
              ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
              FROM orders
              WHERE o_orderdate >= TIMESTAMP '1998-06-01 00:00:00'
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // INCREMENTAL OPTIMIZE (round 16): a clustered 100 TB table keeps
    // growing — re-clustering the corpus nightly (round 15's
    // optimizeTable) pays the corpus per night. onlyNew=true folds
    // ONLY the segments committed since the last clustering into the
    // recorded range layout (zone-evidence picks the affected ranges;
    // merge claims and tombstones reconcile during the fold), keeping
    // untouched ranges' directories in place — cost ∝ new data. The
    // key clusters orders by o_orderkey, lands a narrow APPEND (new
    // keys above every range) and a narrow MERGE (+100 on the lowest
    // keys), folds incrementally, REQUIRES most base directories
    // survived verbatim (the ∝-new evidence), and hash-grades the
    // final content against a from-scratch reconstruction.
    GQuery("optimize_incremental",
      (s, dir) => {
        import s.implicits._
        val table = scratch("optimize_inc_orders")
        val orders = Tables(s, dir, "orders")
        graft.ops.AtomicPublish.publish(s, table)(p =>
          orders.write.parquet(p))
        val full = graft.ops.AtomicPublish.optimizeTable(s, table,
          clusterBy = Seq("o_orderkey"), segments = 6)
        require(full.isInstanceOf[
          graft.ops.AtomicPublish.CompactOutcome.Compacted], s"$full")
        val base = graft.ops.AtomicPublish.currentSegments(s, table)
        graft.ops.AtomicPublish.appendSegment(s, table)(p =>
          orders.filter($"o_orderkey" < 500)
            .withColumn("o_orderkey", $"o_orderkey" + 9000000000L)
            .write.parquet(p))
        graft.ops.MergeInto.upsertInto(s, table,
          orders.filter($"o_orderkey" < 200)
            .withColumn("o_totalprice", $"o_totalprice" + 100.0),
          Seq("o_orderkey"))
        val inc = graft.ops.AtomicPublish.optimizeTable(s, table,
          clusterBy = Seq("o_orderkey"), segments = 6, onlyNew = true)
        require(inc.isInstanceOf[
          graft.ops.AtomicPublish.CompactOutcome.Compacted], s"$inc")
        val after = graft.ops.AtomicPublish.currentSegments(s, table)
        val kept = base.count(after.contains)
        require(kept >= base.size - 3 && kept >= 1,
          s"incremental optimize must keep unaffected ranges in place: " +
            s"kept $kept of ${base.size}")
        require(graft.ops.AtomicPublish.upsertSidecarsFor(
          s, table, after).isEmpty, "the fold must reconcile all merges")
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_optinc_orders
                  USING graft OPTIONS (path '$table')""")
        s.sql(s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
                  ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
                  FROM graft_optinc_orders
                  GROUP BY o_orderpriority ORDER BY o_orderpriority""")
      },
      Some(s"""WITH merged AS (
                SELECT o_orderpriority,
                       CASE WHEN o_orderkey < 200
                            THEN o_totalprice + 100.0
                            ELSE o_totalprice END AS o_totalprice
                FROM orders
                UNION ALL
                SELECT o_orderpriority, o_totalprice
                FROM orders WHERE o_orderkey < 500)
              SELECT o_orderpriority, COUNT(*) AS n_orders,
                ${graft.engine.Det.sql.dsum("o_totalprice")} AS sum_price
              FROM merged
              GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // BLOOM-SIDECAR POINT LOOKUP (round 15): zonemaps prune RANGES —
    // useless for an id probe when every segment spans the full key
    // range (hash/arrival-ordered appends, the common LSM layout; here
    // customer lands as three `% 3` slices, so min/max overlap
    // completely). Opt-in per-column bloom sidecars
    // (GraftConf.BloomColumns, harvested at commit with one
    // column-pruned scan of THE SEGMENT) answer the equality question:
    // the IN-probe schedules only the segments whose filter fires —
    // the Iceberg/Delta stats-file shape for needle lookups over a
    // 10k-segment table. PlanSpec pins the scan's file count actually
    // dropped; this key hash-grades that pruning never changes RESULTS
    // (bloom false-negatives are impossible by construction).
    GQuery("scan_bloom_pruned",
      (s, dir) => {
        import s.implicits._
        val table = scratch("bloom_customer")
        val cust = Tables(s, dir, "customer")
        s.conf.set(graft.engine.GraftConf.BloomColumns.key, "c_custkey")
        try {
          graft.ops.AtomicPublish.publish(s, table)(p =>
            cust.filter($"c_custkey" % 3 === 0).write.parquet(p))
          graft.ops.AtomicPublish.appendSegment(s, table)(p =>
            cust.filter($"c_custkey" % 3 === 1).write.parquet(p))
          graft.ops.AtomicPublish.appendSegment(s, table)(p =>
            cust.filter($"c_custkey" % 3 === 2).write.parquet(p))
        } finally s.conf.unset(graft.engine.GraftConf.BloomColumns.key)
        s.sql(s"""CREATE OR REPLACE TEMPORARY VIEW graft_bloom_customer
                  USING graft OPTIONS (path '$table')""")
        s.sql("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment
                 FROM graft_bloom_customer
                 WHERE c_custkey IN (3, 5, 11, 42, 97)
                 ORDER BY c_custkey""")
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, c_mktsegment
              FROM customer WHERE c_custkey IN (3, 5, 11, 42, 97)
              ORDER BY c_custkey"""))
  )
}
