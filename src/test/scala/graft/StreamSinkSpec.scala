package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._
import graft.engine.GraftConf

/** Streaming sink path: stream a staged parquet directory through a
  * transformation into a parquet sink with checkpointing (the
  * reference's to_csv/to_parquet chunk-append loop, upgraded to
  * exactly-once file commits), then read the sink back and compare
  * with the batch result.
  */
class StreamSinkSpec extends SparkSpec {

  test("readStream -> transform -> parquet sink round-trips exactly") {
    import spark.implicits._
    val src = Files.createTempDirectory("graft_sink_src")
    val out = Files.createTempDirectory("graft_sink_out")
    val ckpt = Files.createTempDirectory("graft_sink_ckpt")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/orders.parquet"),
      src.resolve("part-0.parquet"))

    val schema = StructType(Seq(
      StructField("o_orderkey", LongType),
      StructField("o_custkey", LongType),
      StructField("o_orderstatus", StringType),
      StructField("o_totalprice", DoubleType),
      StructField("o_orderdate", TimestampType),
      StructField("o_orderpriority", StringType)))

    val q = spark.readStream.schema(schema).parquet(src.toString)
      .filter($"o_totalprice" > 100000.0)
      .select($"o_orderkey", $"o_totalprice")
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(out.toString)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val batch = graft.engine.Tables(spark, sfDir, "orders")
      .filter($"o_totalprice" > 100000.0)
      .select($"o_orderkey", $"o_totalprice")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("graft-stream tail: appends arrive as batches, restart recovers, rewrite refuses") {
    import spark.implicits._
    import graft.ops.AtomicPublish
    val table = graft.engine.Scratch.dir("spec_tail")
    val ckpt = Files.createTempDirectory("graft_tail_ckpt").toString
    def day(k: Int) = Seq((k.toLong, s"d$k", 1.0)).toDF("k", "tag", "v")
    AtomicPublish.publish(spark, table)(p => day(0).write.parquet(p))
    val got = scala.collection.concurrent.TrieMap.empty[Long, String]
    val batchSizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    def start() = spark.readStream.format("graft-stream")
      .option("path", table).load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        batchSizes.add(rows.length)
        rows.foreach(r => got.put(r.getLong(0), r.getString(1))); ()
      }
      .start()
    // life 1: base + one live append, each its own micro-batch
    val q1 = start()
    q1.processAllAvailable()
    AtomicPublish.appendSegment(spark, table)(p => day(1).write.parquet(p))
    q1.processAllAvailable()
    q1.stop()
    assert(got.keySet === Set(0L, 1L))
    // life 2: offsets recover from the checkpoint (SerializedOffset
    // path) — only the NEW segment replays, nothing re-reads days 0-1
    AtomicPublish.appendSegment(spark, table)(p => day(2).write.parquet(p))
    val q2 = start()
    q2.processAllAvailable()
    assert(got.keySet === Set(0L, 1L, 2L))
    import scala.jdk.CollectionConverters._
    assert(batchSizes.asScala.sum === 3,
      s"a segment was re-read or skipped: batch sizes ${batchSizes.asScala}")
    // a REWRITE under the running stream (publish collapses the
    // manifest) must fail loudly naming the cause, never silently
    // re-consume rewritten data
    spark.conf.set(GraftConf.RetentionMs.key, "0")
    try {
      AtomicPublish.publish(spark, table)(p => day(9).write.parquet(p))
      AtomicPublish.appendSegment(spark, table)(p => day(10).write.parquet(p))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
        q2.awaitTermination(10000); ()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("compacted or republished")),
        s"rewrite-under-stream must refuse loudly: ${msgs(e)}")
    } finally {
      spark.conf.unset(GraftConf.RetentionMs.key)
      q2.stop()
    }
  }

  test("graft-stream admission control: bounded batches, latest start, upsert refusal") {
    import spark.implicits._
    import graft.ops.AtomicPublish
    val table = graft.engine.Scratch.dir("spec_tail_admission")
    def day(k: Int) = Seq((k.toLong, s"d$k")).toDF("k", "tag")
    AtomicPublish.publish(spark, table)(p => day(0).write.parquet(p))
    (1 to 5).foreach(k =>
      AtomicPublish.appendSegment(spark, table)(p => day(k).write.parquet(p)))
    // (a) maxSegmentsPerBatch caps backlog ingestion: 6 segments drain
    // in ceil(6/2)=3 bounded micro-batches, never one monster batch —
    // Delta's maxFilesPerTrigger shape for the tail
    val sizes = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val got = scala.collection.concurrent.TrieMap.empty[Long, String]
    val q1 = spark.readStream.format("graft-stream")
      .option("path", table).option("maxSegmentsPerBatch", "2").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("adm1").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = b.collect()
        sizes.add(rows.length)
        rows.foreach(r => got.put(r.getLong(0), r.getString(1))); ()
      }
      .start()
    q1.processAllAvailable(); q1.stop()
    import scala.jdk.CollectionConverters._
    assert(got.keySet === (0L to 5L).toSet, s"backlog incomplete: ${got.keySet}")
    assert(sizes.asScala.forall(_ <= 2),
      s"a batch exceeded maxSegmentsPerBatch: ${sizes.asScala}")
    assert(sizes.asScala.count(_ > 0) >= 3,
      s"the backlog must drain across several bounded batches: ${sizes.asScala}")
    // (b) startingOffset=latest arms at the current manifest length:
    // the 6-segment history is never replayed, only future appends land
    val got2 = scala.collection.concurrent.TrieMap.empty[Long, String]
    val q2 = spark.readStream.format("graft-stream")
      .option("path", table).option("startingOffset", "latest").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("adm2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got2.put(r.getLong(0), r.getString(1))); ()
      }
      .start()
    q2.processAllAvailable()
    assert(got2.isEmpty, s"latest-start must not replay history: $got2")
    AtomicPublish.appendSegment(spark, table)(p => day(6).write.parquet(p))
    q2.processAllAvailable()
    assert(got2.keySet === Set(6L), s"only the live append may arrive: $got2")
    // (c) an UPSERT segment is an update, not an append — the tail
    // must refuse loudly rather than corrupt downstream state
    graft.ops.MergeInto.upsertInto(spark, table,
      Seq((0L, "mutated")).toDF("k", "tag"), Seq("k"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
      q2.awaitTermination(10000); ()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("appends only")),
      s"tail must refuse upsert segments loudly: ${msgs(e)}")
    q2.stop()
    val eBadOpt = intercept[Exception] {
      spark.readStream.format("graft-stream")
        .option("path", table).option("maxSegmentsPerBatch", "0").load()
        .writeStream.format("noop").start()
    }
    assert(msgs(eBadOpt).exists(_.contains("maxSegmentsPerBatch")), msgs(eBadOpt))
  }

  test("graft-stream startingVersion: consume from a commit, exclusive with startingOffset") {
    import spark.implicits._
    import graft.ops.AtomicPublish
    val table = graft.engine.Scratch.dir("spec_tail_startver")
    def day(k: Int) = Seq((k.toLong, s"d$k")).toDF("k", "tag")
    AtomicPublish.publish(spark, table)(p => day(0).write.parquet(p)) // v1
    (1 to 3).foreach(k =>
      AtomicPublish.appendSegment(spark, table)(p => day(k).write.parquet(p)))
    val v = AtomicPublish.currentVersion(spark, table).get // = 4
    // arm at commit v-1: the tail serves commits v-1..v (days 2-3) and
    // future appends, never the older history — the Delta
    // startingVersion shape resolved through the version log
    val got = scala.collection.concurrent.TrieMap.empty[Long, String]
    val q = spark.readStream.format("graft-stream")
      .option("path", table).option("startingVersion", (v - 1).toString).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("sv1").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), r.getString(1))); ()
      }
      .start()
    q.processAllAvailable()
    assert(got.keySet === Set(2L, 3L),
      s"startingVersion=${v - 1} must serve commits ${v - 1}+ only: $got")
    AtomicPublish.appendSegment(spark, table)(p => day(7).write.parquet(p))
    q.processAllAvailable(); q.stop()
    assert(got.keySet === Set(2L, 3L, 7L), s"live appends must land: $got")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val eBoth = intercept[Exception] {
      spark.readStream.format("graft-stream")
        .option("path", table).option("startingVersion", "2")
        .option("startingOffset", "latest").load()
        .writeStream.format("noop").start()
    }
    assert(msgs(eBoth).exists(_.contains("mutually exclusive")), msgs(eBoth))
  }

  test("startingTimestamp: wall-clock floors on both streaming sources") {
    import spark.implicits._
    import graft.ops.{AtomicPublish, MergeInto}
    val table = graft.engine.Scratch.dir("spec_tail_startts")
    def day(k: Int) = Seq((k.toLong, s"d$k")).toDF("k", "tag")
    AtomicPublish.publish(spark, table)(p => day(0).write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p => day(1).write.parquet(p))
    Thread.sleep(1200) // outlast coarse filesystem mtime granularity
    val cut = System.currentTimeMillis()
    Thread.sleep(1200)
    AtomicPublish.appendSegment(spark, table)(p => day(2).write.parquet(p))
    AtomicPublish.appendSegment(spark, table)(p => day(3).write.parquet(p))
    // the tail armed at `cut` serves only the commits after it
    val got = scala.collection.concurrent.TrieMap.empty[Long, String]
    val q = spark.readStream.format("graft-stream")
      .option("path", table).option("startingTimestamp", cut.toString).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ts1").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getLong(0), r.getString(1))); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    assert(got.keySet === Set(2L, 3L),
      s"startingTimestamp must serve post-cut commits only: $got")
    // cdf twin: upserts after the cut arrive typed; pre-cut history not
    MergeInto.upsertInto(spark, table,
      Seq((1L, "d1x")).toDF("k", "tag"), Seq("k"))
    val changes = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q2 = spark.readStream.format("graft-cdf")
      .option("path", table).option("startingTimestamp", cut.toString).load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("ts2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => changes.add((r.getLong(0), r.getString(2)))); ()
      }
      .start()
    q2.processAllAvailable(); q2.stop()
    import scala.jdk.CollectionConverters._
    val byKey = changes.asScala.toSeq
    assert(byKey.toSet === Set((2L, "insert"), (3L, "insert"),
      (1L, "update_postimage")),
      s"cdf startingTimestamp must serve post-cut changes only: $byKey")
    // mutual exclusivity is loud on both sources
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val eBoth = intercept[Exception] {
      spark.readStream.format("graft-cdf")
        .option("path", table).option("startingTimestamp", cut.toString)
        .option("startingVersion", "2").load()
        .writeStream.format("noop").start()
    }
    assert(msgs(eBoth).exists(_.contains("mutually exclusive")), msgs(eBoth))
  }

  test("graft-cdf tail: commits arrive as typed changes; restart never re-reads") {
    import spark.implicits._
    import graft.ops.{AtomicPublish, MergeInto}
    val table = graft.engine.Scratch.dir("spec_cdf_tail")
    AtomicPublish.publish(spark, table)(p =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(p))
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Option[String], String, Long)]()
    val ckpt = Files.createTempDirectory("cdf1").toString
    def start() = spark.readStream.format("graft-cdf").option("path", table).load()
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0),
          Option(r.getString(1)), r.getString(2), r.getLong(3)))); ()
      }
      .start()
    val q = start()
    q.processAllAvailable()
    assert(got.isEmpty, s"the base publish is a snapshot, not a change: $got")
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((3L, "c")).toDF("k", "v").write.parquet(p))           // v2
    MergeInto.upsertInto(spark, table,
      Seq((2L, "b2"), (9L, "i")).toDF("k", "v"), Seq("k"))      // v3
    MergeInto.deleteFrom(spark, table, Seq(1L).toDF("k"), Seq("k")) // v4
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    val feed = got.asScala.toSeq.sortBy(t => (t._4, t._1))
    assert(feed === Seq(
      (3L, Some("c"), "insert", 2L),
      (2L, Some("b2"), "update_postimage", 3L),
      (9L, Some("i"), "insert", 3L),
      (1L, None, "delete", 4L)), s"got: $feed")
    // restart from the checkpoint: consumed commits never re-delivered
    got.clear()
    val q2 = start()
    q2.processAllAvailable()
    assert(got.isEmpty, s"restart re-delivered consumed commits: ${got.asScala}")
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((7L, "g")).toDF("k", "v").write.parquet(p))           // v5
    q2.processAllAvailable()
    assert(got.asScala.toSeq === Seq((7L, Some("g"), "insert", 5L)),
      s"only the live commit may arrive: ${got.asScala}")
    // compaction under the feed is a FOLD: content-preserving and
    // declared in the version log — the stream keeps going, the fold
    // delivers zero rows, and the post-fold append arrives normally
    // (round-15 behavior killed the query here)
    got.clear()
    MergeInto.compactMerged(spark, table)                       // v6 fold
    AtomicPublish.appendSegment(spark, table)(p =>
      Seq((8L, "h")).toDF("k", "v").write.parquet(p))           // v7
    q2.processAllAvailable()
    q2.stop()
    assert(got.asScala.toSeq === Seq((8L, Some("h"), "insert", 7L)),
      s"the feed must replay THROUGH the fold: ${got.asScala}")
  }

  test("graft-cdf admission: bounded commit spans, startingVersion floor") {
    import spark.implicits._
    import graft.ops.{AtomicPublish, MergeInto}
    val table = graft.engine.Scratch.dir("spec_cdf_admission")
    AtomicPublish.publish(spark, table)(p =>
      Seq((0L, "base")).toDF("k", "v").write.parquet(p))        // v1
    (1 to 4).foreach(k => AtomicPublish.appendSegment(spark, table)(p =>
      Seq((k.toLong, s"d$k")).toDF("k", "v").write.parquet(p))) // v2..v5
    MergeInto.deleteFrom(spark, table, Seq(1L).toDF("k"), Seq("k")) // v6
    // maxCommitsPerBatch=2: the 5-commit backlog drains in >= 3 batches
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = spark.readStream.format("graft-cdf").option("path", table)
      .option("maxCommitsPerBatch", "2").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdf2").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        val vs = b.select("_commit_version").distinct().collect().map(_.getLong(0))
        if (vs.nonEmpty) spans.add(vs.max - vs.min + 1); ()
      }
      .start()
    q.processAllAvailable(); q.stop()
    import scala.jdk.CollectionConverters._
    assert(spans.asScala.forall(_ <= 2),
      s"a batch exceeded maxCommitsPerBatch: ${spans.asScala}")
    assert(spans.asScala.size >= 3,
      s"the backlog must drain across several bounded batches: ${spans.asScala}")
    // startingVersion=6: only the delete arrives
    val got = new java.util.concurrent.ConcurrentLinkedQueue[(Long, String)]()
    val q2 = spark.readStream.format("graft-cdf").option("path", table)
      .option("startingVersion", "6").load()
      .writeStream
      .option("checkpointLocation", Files.createTempDirectory("cdf3").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.add((r.getLong(0), r.getString(2)))); ()
      }
      .start()
    q2.processAllAvailable(); q2.stop()
    assert(got.asScala.toSeq === Seq((1L, "delete")), s"got: ${got.asScala}")
    // bad options fail at load(), synchronously
    val eBad = intercept[Exception] {
      spark.readStream.format("graft-cdf").option("path", table)
        .option("startingVersion", "1").load()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(eBad).exists(_.contains("startingVersion must be >= 2")),
      msgs(eBad).mkString("|"))
  }
}
