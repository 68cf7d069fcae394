package graft

import org.apache.spark.sql.types._
import graft.engine.GraftConf

/** The testdata schema contract (VERDICT r8 #2): one loud assertion
  * naming any drifted column, instead of N silently-broken keys the
  * next time the generator changes a physical encoding.
  */
class EngineContractSpec extends SparkSpec {

  test("all 10 tables match the pinned post-load schema contract") {
    graft.engine.Contract.assertAll(spark, sfDir)
  }

  test("normalizeTs canonicalizes every observed ts encoding") {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    // µs-NTZ (the current generator output): cast must be value-exact
    // under the pinned UTC session timezone.
    val ntz = Seq("2024-01-02T03:04:05.123456").toDF("s")
      .select(to_timestamp_ntz($"s").as("ts"))
    assert(ntz.schema("ts").dataType == TimestampNTZType)
    val normNtz = graft.engine.Tables.normalizeTs(ntz)
    assert(normNtz.schema("ts").dataType == TimestampType)
    assert(normNtz.select(unix_micros($"ts")).as[Long].head ==
      1704164645123456L)

    // ns-as-long (the pre-round-8 encoding under nanosAsLong=true):
    // integer ns→µs truncation.
    val nsLong = Seq(1704164645123456789L).toDF("ts")
    val normNs = graft.engine.Tables.normalizeTs(nsLong)
    assert(normNs.schema("ts").dataType == TimestampType)
    assert(normNs.select(unix_micros($"ts")).as[Long].head ==
      1704164645123456L)

    // Already-canonical LTZ: pass-through, same values.
    val ltz = Seq("2024-01-02 03:04:05.123456").toDF("s")
      .select(to_timestamp($"s").as("ts"))
    assert(graft.engine.Tables.normalizeTs(ltz)
      .select(unix_micros($"ts")).as[Long].head == 1704164645123456L)

    // Unknown encodings must fail loudly at the boundary, not downstream.
    val bad = Seq("oops").toDF("ts")
    intercept[IllegalStateException] {
      graft.engine.Tables.normalizeTs(bad)
    }
  }

  test("staging coalesce is size-conditional (round 17: a large batch " +
      "keeps its parallelism; a small one stages as one file)") {
    import graft.engine.Sizing
    // small: well under the 128 MB default -> one partition
    val small = spark.range(0, 1000, 1, 8).toDF("id")
    assert(Sizing.coalesceForStaging(small).rdd.getNumPartitions === 1)
    // large: range's 8 B/row estimate puts 100M rows at ~800 MB, past
    // the ceiling -> partitioning untouched
    val big = spark.range(0, 100000000L, 1, 8).toDF("id")
    assert(Sizing.coalesceForStaging(big).rdd.getNumPartitions === 8)
    // ceiling is conf-driven (scale-parameterised, round rules): lower
    // it and the small frame stops coalescing too
    spark.conf.set(GraftConf.StagingCoalesceBytes.key, "1")
    try assert(Sizing.coalesceForStaging(small).rdd.getNumPartitions === 8)
    finally spark.conf.unset(GraftConf.StagingCoalesceBytes.key)
  }

  test("staging coalesce: a local relation is sized without the optimizer; " +
      "a malformed ceiling fails loudly, naming its key") {
    import graft.engine.Sizing
    val local = spark.createDataFrame(
      java.util.Arrays.asList((1 to 50).map(i => org.apache.spark.sql.Row(i.toLong)): _*),
      org.apache.spark.sql.types.StructType(Seq(org.apache.spark.sql.types
        .StructField("id", org.apache.spark.sql.types.LongType))))
      .repartition(4)
    assert(Sizing.coalesceForStaging(local).rdd.getNumPartitions === 1)
    val raw = spark.createDataFrame(
      java.util.Arrays.asList((1 to 50).map(i => org.apache.spark.sql.Row(i.toLong)): _*),
      local.schema)
    assert(raw.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(Sizing.coalesceForStaging(raw).rdd.getNumPartitions === 1)
    spark.conf.set(GraftConf.StagingCoalesceBytes.key, "1")
    try assert(Sizing.coalesceForStaging(raw).rdd.getNumPartitions ===
      raw.rdd.getNumPartitions)
    finally spark.conf.unset(GraftConf.StagingCoalesceBytes.key)
    spark.conf.set(GraftConf.StagingCoalesceBytes.key, "128MB")
    try {
      val e = intercept[IllegalArgumentException](Sizing.coalesceForStaging(raw))
      assert(e.getMessage.contains(GraftConf.StagingCoalesceBytes.key), e.getMessage)
    } finally spark.conf.unset(GraftConf.StagingCoalesceBytes.key)
  }

  test("GraftConf: every entry parses its default back and refuses a malformed value by key") {
    assert(GraftConf.all.size === 20)
    assert(GraftConf.all.map(_.key).distinct.size === GraftConf.all.size)
    val sc = spark.sparkContext
    val group = "graftconf-spec"
    sc.setJobGroup(group, "GraftConf parsing")
    try GraftConf.all.foreach { e =>
      assert(spark.conf.getOption(e.key).isEmpty, s"${e.key} is set by another spec")
      assert(e.get(spark) == e.default, e.key)
      // the rendered default (what the bench records) reads back as itself
      spark.conf.set(e.key, s" ${e.resolved(spark)} ")
      try assert(e.get(spark) == e.default, e.key)
      finally spark.conf.unset(e.key)
      spark.conf.set(e.key, "x,,y")
      try {
        val ex = intercept[IllegalArgumentException](e.get(spark))
        assert(ex.getMessage.contains(e.key) && ex.getMessage.contains("x,,y"),
          ex.getMessage)
      } finally spark.conf.unset(e.key)
    } finally sc.clearJobGroup()
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty,
      "reading the conf registry must launch no Spark job")
  }

  test("every spark.graft.* key is declared in GraftConf and nowhere else in src/main") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val root = Paths.get("src/main/scala")
    val registry = root.resolve("graft/engine/GraftConf.scala")
    val stray = Files.walk(root).iterator.asScala
      .filter(p => p.toString.endsWith(".scala") && p != registry)
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if line.contains("\"spark.graft.") => s"$p:${i + 1}"
        }
      }.toList
    assert(Files.exists(registry))
    assert(stray.isEmpty, s"declare these keys in GraftConf: ${stray.mkString(", ")}")
  }
}
