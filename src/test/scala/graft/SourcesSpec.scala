package graft

import graft.sources.{Jsonl, Manifest}
import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("paged DSv2 source plans one partition per page") {
    val df = spark.read.format("graft.sources.PagedSource")
      .option("pages", 4).option("pageSize", 25).load()
    assert(df.count() === 100)
    assert(df.select("tax_id").distinct().count() === 100)
    assert(df.rdd.getNumPartitions === 4)
    val r = df.filter(col("tax_id") === 26).collect().head
    assert(r.getString(1) === "GCA_000000026.1")
    assert(r.getString(3) === "Done")
  }

  test("paged source prunes pages from pushed tax_id filters") {
    val df = spark.read.format("graft.sources.PagedSource")
      .option("pages", 8).option("pageSize", 100).load()
    val filtered = df.filter(col("tax_id") >= 250 && col("tax_id") < 450)
    assert(filtered.count() === 200)
    assert(filtered.rdd.getNumPartitions === 3) // pages 2,3,4 of 8
    assert(filtered.agg(min("tax_id"), max("tax_id")).collect().head.toSeq === Seq(250L, 449L))
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") || filtered.rdd.getNumPartitions < 8)
  }

  test("keyed source: storage-partitioned join runs with ZERO shuffles and exact results") {
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // force the SPJ path
      def read(seed: Long) = spark.read.format("graft.sources.KeyedSource")
        .option("groups", 8).option("rowsPerGroup", 100)
        .option("seed", seed).load()
      val j = read(1L).select(col("grp"), col("v_milli").as("va"))
        .join(read(2L).select(col("grp"), col("v_milli").as("vb")), Seq("grp"))
        .groupBy("grp").agg(count(lit(1)).as("n_pairs"),
          sum(expr("va + vb")).as("sv"))
      val plan = j.queryExecution.executedPlan.toString
      // the whole join+agg rides KeyGroupedPartitioning: no exchange at all
      assert(!plan.contains("Exchange"),
        s"storage-partitioned join planned a shuffle:\n$plan")
      val got = j.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // driver-side replay of the splitmix content
      val expected = (0 until 8).map { g =>
        val va = (0L until 100L).map(i => graft.sources.KeyedSource.rowAt(1L, g, 100L, i)._3)
        val vb = (0L until 100L).map(i => graft.sources.KeyedSource.rowAt(2L, g, 100L, i)._3)
        val sv = (for (a <- va; b <- vb) yield a + b).sum
        g.toLong -> ((100L * 100L, sv))
      }.toMap
      assert(got === expected)
      // a groupBy on the partition key alone is also exchange-free
      val agg = read(3L).groupBy("grp").agg(sum("v_milli").as("s"))
      assert(!agg.queryExecution.executedPlan.toString.contains("Exchange"))
      assert(agg.count() === 8)
    }
  }

  test("keyed source: MISMATCHED group counts still join exchange-free via pushed partition values") {
    // The case a real lakehouse hits first: the two sides were written
    // with different partition-value sets (8 vs 16 identity(grp) groups).
    // Spark 4.x SPJ handles it through
    // v2.bucketing.pushPartValues.enabled (default TRUE): the common
    // partition values are aligned and the join stays ZERO-exchange;
    // with it disabled the partitionings are incompatible and the plan
    // falls back to a two-exchange shuffle join — both pinned here.
    val pushPartValues = "spark.sql.sources.v2.bucketing.pushPartValues.enabled"
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      pushPartValues -> "true") {
      def read(groups: Int, seed: Long) =
        spark.read.format("graft.sources.KeyedSource")
          .option("groups", groups).option("rowsPerGroup", 50)
          .option("seed", seed).load()
      def mismatched() = read(8, 1L).select(col("grp"), col("v_milli").as("va"))
        .join(read(16, 2L).select(col("grp"), col("v_milli").as("vb")), Seq("grp"))
        .groupBy("grp").agg(count(lit(1)).as("n_pairs"),
          sum(expr("va + vb")).as("sv"))
      val j = mismatched()
      assert(!j.queryExecution.executedPlan.toString.contains("Exchange"),
        "partially-clustered SPJ planned a shuffle with pushPartValues on")
      val got = j.collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      // only the 8 common groups join; exact splitmix replay driver-side
      val expected = (0 until 8).map { g =>
        val va = (0L until 50L).map(i =>
          graft.sources.KeyedSource.rowAt(1L, g, 50L, i)._3)
        val vb = (0L until 50L).map(i =>
          graft.sources.KeyedSource.rowAt(2L, g, 50L, i)._3)
        g.toLong -> ((50L * 50L, (for (a <- va; b <- vb) yield a + b).sum))
      }.toMap
      assert(got === expected)
      // the fallback: without pushed partition values the 8- and 16-group
      // KeyGroupedPartitionings are incompatible -> shuffle both sides
      withConfs(pushPartValues -> "false") {
        val off = mismatched()
        val nEx = "Exchange".r
          .findAllIn(off.queryExecution.executedPlan.toString).length
        assert(nEx === 2, s"expected the two-exchange fallback, got $nEx")
        assert(off.collect().map(r =>
          r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap === expected)
      }
    }
  }

  test("keyed source: a skewed MULTI-SPLIT group joins exchange-free; partiallyClustered keeps the splits parallel") {
    // The orthogonal SPJ case to the mismatched-group-count pin above:
    // one side's group 0 arrives as FOUR input partitions sharing one
    // partitionKey (a skewed key written across several files). Default
    // posture groups the splits into one task per key (zero-exchange,
    // but the skewed key serializes); with
    // partiallyClusteredDistribution.enabled the other side's matching
    // partition is REPLICATED across the splits instead — still
    // zero-exchange, more tasks for the hot key.
    withConfs("spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") {
      def skewed() = spark.read.format("graft.sources.KeyedSource")
        .option("groups", 8).option("rowsPerGroup", 64)
        .option("seed", 1L).option("skewSplits", 4).load()
        .select(col("grp"), col("v_milli").as("va"))
      def uniform() = spark.read.format("graft.sources.KeyedSource")
        .option("groups", 8).option("rowsPerGroup", 64)
        .option("seed", 2L).load()
        .select(col("grp"), col("v_milli").as("vb"))
      val expected = (0 until 8).map { g =>
        val va = (0L until 64L).map(i =>
          graft.sources.KeyedSource.rowAt(1L, g, 64L, i)._3)
        val vb = (0L until 64L).map(i =>
          graft.sources.KeyedSource.rowAt(2L, g, 64L, i)._3)
        g.toLong -> ((64L * 64L, (for (a <- va; b <- vb) yield a + b).sum))
      }.toMap
      def check(): Int = {
        // the JOIN subtree is the pin: it must plan with NO exchange on
        // either side even though one side's group 0 is 4 splits. (A
        // downstream groupBy re-shuffles regardless — under multi-split
        // semantics a key's join output may legitimately span tasks, so
        // the join output no longer satisfies the agg's clustering.)
        val j = skewed().join(uniform(), Seq("grp"))
        val plan = j.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"),
          s"multi-split SPJ planned a shuffle:\n$plan")
        val got = j.groupBy("grp").agg(count(lit(1)).as("n_pairs"),
            sum(expr("va + vb")).as("sv")).collect()
          .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
        assert(got === expected)
        j.rdd.getNumPartitions
      }
      val partiallyClustered =
        "spark.sql.sources.v2.bucketing.partiallyClusteredDistribution.enabled"
      val nGrouped = withConfs(partiallyClustered -> "false")(check())
      val nPartial = withConfs(partiallyClustered -> "true")(check())
      info(s"join task counts: grouped=$nGrouped partiallyClustered=$nPartial")
      // grouped posture: one task per key = 8; partially clustered keeps
      // group 0's splits separate (8 + 4-1 = 11)
      assert(nGrouped === 8)
      assert(nPartial > nGrouped,
        s"partiallyClustered should keep the skewed splits parallel " +
          s"(grouped=$nGrouped, partial=$nPartial)")
    }
  }

  test("clustered sink: Spark plans the exchange+sort the writer requires") {
    import graft.sources.ClusteredSink
    ClusteredSink.reset("t1")
    // deliberately unpartitioned, unsorted, key-interleaved input
    val df = spark.range(0, 2000, 1, 8)
      .select((col("id") * 2654435761L % 16).as("k"),
        ((col("id") * 40503L) % 997).as("o"),
        col("id").as("payload"))
    df.write.format("graft.sources.ClusteredSink")
      .option("target", "t1").mode("append").save()
    val tasks = ClusteredSink.committed("t1")
    assert(tasks.map(_.n).sum === 2000L)
    assert(tasks.flatMap(_.keys).toSet === df.select("k").distinct()
      .as[Long].collect().toSet)
    // clustering honored: no key spans two tasks
    val keyTasks = tasks.flatMap(t => t.keys.map(_ -> t))
    assert(keyTasks.groupBy(_._1).forall(_._2.size === 1),
      "a cluster key was split across writer tasks")
    // ordering honored: every task saw (k, o)-sorted input
    assert(tasks.forall(_.sorted), "a writer task saw unsorted input")
  }

  test("paged source prunes columns down to the reader") {
    val df = spark.read.format("graft.sources.PagedSource")
      .option("pages", 2).option("pageSize", 10).load()
      .select("species")
    assert(df.distinct().count() === 20)
    assert(df.schema.fieldNames.toSeq === Seq("species"))
  }

  test("jsonl per-key write produces partition dirs and round-trips") {
    val dir = Files.createTempDirectory("graft_jsonl").toString
    val df = Seq((1L, "sp_a", 1.5), (2L, "sp_a", 2.5), (3L, "sp_b", 3.5))
      .toDF("occ_id", "species", "uncert")
    Jsonl.writePerKey(df, dir, "species")
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory).map(_.getName).sorted
    assert(dirs.toSeq === Seq("species=sp_a", "species=sp_b"))
    val schema = StructType(Seq(
      StructField("occ_id", LongType), StructField("uncert", DoubleType)))
    val back = Jsonl.read(spark, dir, schema)
      .select("occ_id", "uncert", "species") // partition col restored from path
      .as[(Long, Double, String)].collect().toSet
    assert(back === Set((1L, 1.5, "sp_a"), (2L, 2.5, "sp_a"), (3L, 3.5, "sp_b")))
  }

  test("dead-letter read quarantines malformed lines") {
    val dir = Files.createTempDirectory("graft_dead").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/x.jsonl"),
      """{"occ_id": 1, "uncert": 2.0}
        |this is not json
        |{"occ_id": 2, "uncert": 4.0}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("occ_id", LongType), StructField("uncert", DoubleType)))
    val df = Jsonl.readWithDeadLetters(spark, dir, schema).cache()
    assert(df.filter(col("_corrupt_record").isNull).count() === 2)
    assert(df.filter(col("_corrupt_record").isNotNull).count() === 1)
  }

  test("csv dead-letter read quarantines malformed rows and round-trips per-key writes") {
    import graft.sources.Csv
    val dir = Files.createTempDirectory("graft_csv").toString
    Files.writeString(java.nio.file.Paths.get(s"$dir/x.csv"),
      """occ_id,species,uncert
        |1,sp_a,2.0
        |not_a_long,sp_x,oops
        |2,sp_b,4.0
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("occ_id", LongType), StructField("species", StringType),
      StructField("uncert", DoubleType)))
    val (ok, dead) = Csv.splitDeadLetters(
      Csv.readWithDeadLetters(spark, dir, schema).cache())
    assert(ok.select("occ_id", "species", "uncert").as[(Long, String, Double)]
      .collect().toSet === Set((1L, "sp_a", 2.0), (2L, "sp_b", 4.0)))
    assert(dead.count() === 1)
    assert(dead.select("_corrupt_record").as[String].head.startsWith("not_a_long"))

    val outDir = Files.createTempDirectory("graft_csv_out").toString
    Csv.writePerKey(ok, outDir, "species")
    val dirs = new java.io.File(outDir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(dirs.toSeq === Seq("species=sp_a", "species=sp_b"))
    val back = Csv.read(spark, outDir,
        StructType(Seq(StructField("occ_id", LongType), StructField("uncert", DoubleType))))
      .select("occ_id", "uncert", "species")
      .as[(Long, Double, String)].collect().toSet
    assert(back === Set((1L, 2.0, "sp_a"), (2L, 4.0, "sp_b")))
  }

  test("bulk sink commits batched writes atomically; overwrite truncates") {
    import graft.sources.BulkSink
    BulkSink.reset("t1")
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e"))
      .toDF("id", "name").repartition(2)
    df.write.format("graft.sources.BulkSink")
      .option("target", "t1").option("batchSize", "2").mode("append").save()
    val got = BulkSink.committed("t1").map(r => (r(0), r(1))).toSet
    assert(got === Set((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"), (5L, "e")))
    // 5 rows in 2 tasks at batchSize 2 → at least ceil(5/2) bulk flushes
    assert(BulkSink.flushes("t1") >= 3)
    // append accumulates; overwrite truncates in the same commit
    df.limit(1).write.format("graft.sources.BulkSink")
      .option("target", "t1").mode("append").save()
    assert(BulkSink.committed("t1").size === 6)
    df.limit(2).write.format("graft.sources.BulkSink")
      .option("target", "t1").mode("overwrite").save()
    assert(BulkSink.committed("t1").size === 2)
  }

  test("bulk sink aborts atomically: a failed job commits nothing") {
    import graft.sources.BulkSink
    BulkSink.reset("t_abort")
    val abortsBefore = BulkSink.aborted.get()
    val poison = spark.range(0, 100, 1, 4)
      .map(i => if (i == 63) throw new RuntimeException("poison row") else i)
      .toDF("id")
    intercept[Exception] {
      poison.write.format("graft.sources.BulkSink")
        .option("target", "t_abort").mode("append").save()
    }
    assert(BulkSink.committed.get("t_abort").isEmpty,
      "failed job must not register any rows")
    assert(BulkSink.aborted.get() > abortsBefore, "abort hook did not fire")
  }

  test("partition upsert replaces only the rewritten partitions") {
    val dir = Files.createTempDirectory("graft_upsert").toString
    val v1 = Seq((1L, "sp_a", 1), (2L, "sp_b", 1), (3L, "sp_c", 1))
      .toDF("id", "species", "version")
    graft.sources.Upsert.overwritePartitions(v1, dir, "species")
    // second round recomputes only sp_b
    val v2 = Seq((2L, "sp_b", 2), (9L, "sp_b", 2)).toDF("id", "species", "version")
    graft.sources.Upsert.overwritePartitions(v2, dir, "species")
    val got = spark.read.parquet(dir)
      .select("id", "species", "version").as[(Long, String, Int)].collect().toSet
    assert(got === Set(
      (1L, "sp_a", 1), (3L, "sp_c", 1), // untouched partitions survive
      (2L, "sp_b", 2), (9L, "sp_b", 2))) // rewritten partition fully replaced
  }

  test("alias publish: rebuild-then-swap is atomic, crash leaves alias untouched") {
    import graft.sources.AliasPublish
    val root = Files.createTempDirectory("alias").toString
    val v1 = AliasPublish.publish(Seq((1L, "a"), (2L, "b")).toDF("id", "x"), root)
    val v2 = AliasPublish.publish(Seq((1L, "a2"), (2L, "b2"), (3L, "c")).toDF("id", "x"), root)
    assert(Seq(v1, v2) === Seq(1L, 2L))
    // readers resolve the alias: full second snapshot, never a mix
    assert(AliasPublish.readCurrent(spark, root).count() === 3)
    assert(AliasPublish.readCurrent(spark, root)
      .filter(col("x") === "a").count() === 0)
    // previous snapshot stays intact for rollback
    assert(spark.read.parquet(s"$root/v=1").count() === 2)
    // crashed publish: snapshot dir exists but no marker — alias unmoved
    Seq((9L, "dead")).toDF("id", "x").write.parquet(s"$root/v=3")
    assert(AliasPublish.publishedVersions(spark, root) === Seq(1L, 2L))
    assert(AliasPublish.unpublished(spark, root) === Seq(3L))
    assert(AliasPublish.readCurrent(spark, root).count() === 3)
    // the next publish steps past the orphan instead of colliding with it
    assert(AliasPublish.publish(Seq((4L, "d")).toDF("id", "x"), root) === 4L)
    assert(AliasPublish.readCurrent(spark, root).count() === 1)
    // stray non-version dirs — including an all-digit name beyond Long
    // range — are skipped, never fatal
    assert(new java.io.File(s"$root/v=2.bak").mkdir())
    assert(new java.io.File(s"$root/v=12345678901234567890").mkdir())
    assert(AliasPublish.publishedVersions(spark, root) === Seq(1L, 2L, 4L))
    assert(AliasPublish.readCurrent(spark, root).count() === 1)
  }

  test("alias vacuum keeps the serving window, spares in-flight orphans") {
    import graft.sources.AliasPublish
    val root = Files.createTempDirectory("alias_vac").toString
    // no published version yet → nothing is safely deletable
    Seq((0L, "early")).toDF("id", "x").write.parquet(s"$root/v=1")
    assert(AliasPublish.vacuum(spark, root) === Seq.empty)
    assert(AliasPublish.unpublished(spark, root) === Seq(1L))
    // three published versions (stepping past the orphan) + a NEWER
    // in-flight orphan that must survive
    val vs = (1 to 3).map(i =>
      AliasPublish.publish(Seq((i.toLong, s"s$i")).toDF("id", "x"), root))
    assert(vs === Seq(2L, 3L, 4L))
    Seq((9L, "inflight")).toDF("id", "x").write.parquet(s"$root/v=5")
    // keep=2: published v2 and the old orphan v1 go; v3, v4, v5 stay
    assert(AliasPublish.vacuum(spark, root, keep = 2) === Seq(1L, 2L))
    assert(AliasPublish.publishedVersions(spark, root) === Seq(3L, 4L))
    assert(AliasPublish.unpublished(spark, root) === Seq(5L))
    assert(AliasPublish.readCurrent(spark, root)
      .select("x").as[String].head() === "s3")
    // the in-flight publish can still complete after the vacuum
    assert(!new java.io.File(s"$root/v=2").exists())
    assert(new java.io.File(s"$root/v=5").exists())
  }

  test("GraftExtensions injects rolling_hash into a fresh session") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // builder wiring smoke test
    SketchQueries_registerCheck()
  }

  private def SketchQueries_registerCheck(): Unit = {
    operators.SketchQueries.register(spark)
    val v = spark.sql("SELECT rolling_hash('abc') AS h").as[Long].head()
    assert(v === functions.RollingHash.hashBytes("abc".getBytes("UTF-8")))
  }

  test("manifest zone-map scan prunes files and agrees with the full filtered read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    Manifest.writeSharded(li, dir, "l_orderkey", shards = 8)

    val shards = Manifest.readManifest(dir)
    assert(shards.length === 8)
    // range layout ⇒ disjoint zone maps (sorted by lo, each hi < next lo)
    val sorted = shards.sortBy(_.lo)
    sorted.sliding(2).foreach { case Seq(a, b) => assert(a.hi <= b.lo); case _ => }
    assert(shards.map(_.rows).sum === li.count())

    // pick a range inside one shard: the scan must plan ≤2 files
    val mid = sorted(3)
    val pruned = Manifest.prunedRead(spark, dir, "l_orderkey", mid.lo, mid.hi)
    assert(pruned.inputFiles.length < 8)
    val expected = spark.read.parquet(dir)
      .filter(col("l_orderkey") >= mid.lo && col("l_orderkey") <= mid.hi)
    assert(pruned.count() === expected.count())
    assert(pruned.agg(sum("l_quantity")).head.getDouble(0) ===
      expected.agg(sum("l_quantity")).head.getDouble(0))

    // non-overlapping range: zero rows, zero data files scanned
    val top = sorted.map(_.hi).max
    val empty = Manifest.prunedRead(spark, dir, "l_orderkey", top + 10, top + 20)
    assert(empty.count() === 0L)
  }

  test("meta_manifest_prune board query scans O(survivors) files, not the table") {
    // force a fresh layout so the row-total stale-cache guard is what
    // builds it, then pin the pruning: the [4000, 9000] scan must touch
    // a strict subset of the 16 shards, and only manifest-overlapping ones
    val shardDir = "/tmp/graft_zonemap_" +
      sf.replaceAll("[^A-Za-z0-9.]", "_") + "/orders"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(shardDir))
    operators.Records.metaManifestPrune(spark, sf).collect()
    val shards = Manifest.readManifest(shardDir)
    assert(shards.size === 16)
    val survivors = shards.filter(s => s.hi >= 4000L && s.lo <= 9000L)
    val scanned = Manifest.prunedRead(spark, shardDir, "o_orderkey", 4000L, 9000L)
      .inputFiles.toSet
    assert(scanned === survivors.map(_.path).toSet)
    assert(scanned.size < 16, "pruning scanned every shard")
    // second invocation reuses the cached layout (fingerprint + shard
    // existence all hold)
    val manifestPath = java.nio.file.Paths.get(shardDir, "_manifest.json")
    val before = java.nio.file.Files.getLastModifiedTime(manifestPath)
    operators.Records.metaManifestPrune(spark, sf).collect()
    assert(java.nio.file.Files.getLastModifiedTime(manifestPath) === before)
    // a partially swept cache (one shard parquet gone, manifest intact)
    // must REBUILD, not fail mid-scan on the missing file
    val victim = new java.io.File(new java.net.URI(shards.head.path).getPath)
    assert(victim.delete(), s"couldn't delete $victim")
    operators.Records.metaManifestPrune(spark, sf).collect()
    assert(java.nio.file.Files.getLastModifiedTime(manifestPath) !== before,
      "sweep of a shard file did not trigger a rebuild")
    // a source-fingerprint mismatch (in-place regen precedent) rebuilds too
    java.nio.file.Files.write(
      java.nio.file.Paths.get(shardDir, "_source_fingerprint"),
      "stale".getBytes("UTF-8"))
    val before2 = java.nio.file.Files.getLastModifiedTime(manifestPath)
    operators.Records.metaManifestPrune(spark, sf).collect()
    assert(java.nio.file.Files.getLastModifiedTime(manifestPath) !== before2,
      "fingerprint mismatch did not trigger a rebuild")
  }

  test("replay stream source: rate-limited micro-batches, exactly-once deterministic rows") {
    import spark.implicits._
    val df = spark.readStream.format("graft.sources.ReplayStreamSource")
      .option("totalRows", 1000).option("rowsPerBatch", 300)
      .option("partitions", 4).load()
    val q = df.writeStream.format("memory").queryName("replay_out")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val rows = spark.sql("SELECT event_id, ts_ns, event_type, value_milli" +
        " FROM replay_out").as[(Long, Long, String, Long)].collect()
      // complete, duplicate-free replay of exactly totalRows
      assert(rows.length === 1000)
      assert(rows.map(_._1).distinct.length === 1000)
      assert(rows.map(_._1).min === 0L && rows.map(_._1).max === 999L)
      // rate limit: ceil(1000/300) = 4 micro-batches, none above the cap
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(batches.sum === 1000L)
      assert(batches.forall(_ <= 300L))
      assert(batches.length === 4)
      // deterministic content: every row equals the splitmix64 derivation
      rows.foreach { case (id, ts, tpe, v) =>
        val (_, ets, etpe, ev) = graft.sources.ReplayStreamSource.rowAt(id)
        assert((ts, tpe, v) === ((ets, etpe, ev)), s"row $id diverged")
      }
    } finally q.stop()
  }

  test("replay stream source recovers from a checkpoint with no duplicates or gaps") {
    import spark.implicits._
    // Trigger.Once = exactly one micro-batch per (re)start, so each
    // restart exercises deserializeOffset + the monotonic admission
    // pointer across a FRESH MicroBatchStream instance
    val dir = java.nio.file.Files.createTempDirectory("replay_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("replay_out").toString
    def runOnce(): Unit = {
      val q = spark.readStream.format("graft.sources.ReplayStreamSource")
        .option("totalRows", 500).option("rowsPerBatch", 200)
        .option("partitions", 3).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", dir)
        .trigger(org.apache.spark.sql.streaming.Trigger.Once())
        .start()
      q.awaitTermination()
    }
    runOnce(); runOnce(); runOnce() // 200 + 200 + 100
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect()
    assert(ids.length === 500, "restarts must neither duplicate nor drop rows")
    assert(ids.distinct.length === 500)
    assert(ids.min === 0L && ids.max === 499L)
    // a fourth restart past the end emits nothing
    runOnce()
    assert(spark.read.parquet(out).count() === 500L)
  }
}
