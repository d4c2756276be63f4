package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.operators.TargetedDelete

/** Gates for the targeted-delete lake maintenance operator: victims
  * gone, survivors intact, untouched partitions keep their very FILES
  * (identity, not just content), and a fully-victim partition's
  * directory disappears rather than silently surviving the dynamic
  * overwrite. */
class TargetedDeleteSpec extends SparkSpec {
  import spark.implicits._

  private def dataFiles(dir: Path): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala
      .filter(Files.isRegularFile(_))
      .filterNot { f =>
        val n = f.getFileName.toString; n.startsWith("_") || n.startsWith(".")
      }
      .map(f => dir.relativize(f).toString -> Files.getLastModifiedTime(f).toMillis)
      .toMap
  }

  test("delete removes victims, keeps untouched partition files byte-identical") {
    val dir = Files.createTempDirectory("tdel").resolve("lake")
    (1L to 300L).map(i => (i, s"u${i % 30}", s"d${i % 3}"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    // victims live only where event_id % 3 == 1 -> partition d1
    val before = dataFiles(dir)
    // u1 = ids 1,31,61,... and u4 = ids 4,34,...; 30 ≡ 0 (mod 3), so
    // every victim row sits in day partition d1 — exactly one rewrite
    val victims = Seq("u1", "u4").toDF("user")
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user", victims)
    assert(n == 1L, s"all victim rows live in d1, got $n rewrites")
    val d0d2 = dataFiles(dir).filter(f =>
      f._1.startsWith("day=d0") || f._1.startsWith("day=d2"))
    val d0d2Before = before.filter(f =>
      f._1.startsWith("day=d0") || f._1.startsWith("day=d2"))
    assert(d0d2 == d0d2Before, "d0/d2 files must be untouched")
    val after = spark.read.parquet(dir.toString)
    assert(after.filter(col("user").isin("u1", "u4")).count() == 0L)
    assert(after.count() == 300L - 20L, "exactly the 20 victim rows gone")
  }

  test("partitions without victims keep their exact files") {
    val dir = Files.createTempDirectory("tdel2").resolve("lake")
    (1L to 100L).map(i => (i, s"u$i", if (i <= 50) "cold" else "hot"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    val coldBefore = dataFiles(dir).filter(_._1.startsWith("day=cold"))
    // victims only in 'hot'
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("u60", "u70").toDF("user"))
    assert(n == 1L)
    val coldAfter = dataFiles(dir).filter(_._1.startsWith("day=cold"))
    assert(coldAfter == coldBefore,
      "cold partition files must be untouched (same names, same mtimes)")
    assert(spark.read.parquet(dir.toString).count() == 98L)
  }

  test("a fully-victim partition's directory is removed, not silently kept") {
    val dir = Files.createTempDirectory("tdel3").resolve("lake")
    Seq((1L, "a", "d0"), (2L, "a", "d0"), (3L, "b", "d1"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("a").toDF("user"))
    assert(n == 1L)
    assert(!Files.exists(dir.resolve("day=d0")), "emptied partition dir must go")
    val left = spark.read.parquet(dir.toString)
      .select("event_id").as[Long].collect().toSet
    assert(left == Set(3L))
  }

  test("partition values needing path escaping: emptied dir still removed") {
    val dir = Files.createTempDirectory("tdel5").resolve("lake")
    // "US/east 1:a" has /, space, and : — Spark percent-escapes all three
    // in the partition path; a hand-built "day=US/east 1:a" would point
    // at a nested path that doesn't exist
    Seq((1L, "a", "US/east 1:a"), (2L, "a", "US/east 1:a"), (3L, "b", "plain"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    import scala.jdk.CollectionConverters._
    val escaped = Files.list(dir).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("day=US")).toSeq
    assert(escaped.nonEmpty && escaped.head.contains("%2F"),
      s"precondition: spark escapes '/' in partition paths, saw $escaped")
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("a").toDF("user"))
    assert(n == 1L)
    assert(!Files.exists(dir.resolve(escaped.head)),
      "escaped emptied partition dir must be removed")
    val left = spark.read.parquet(dir.toString)
      .select("event_id").as[Long].collect().toSet
    assert(left == Set(3L))
  }

  test("victims in the null partition are found and deleted") {
    val dir = Files.createTempDirectory("tdel6").resolve("lake")
    Seq((1L, "a", null), (2L, "b", null), (3L, "a", "d1"), (4L, "c", "d1"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    assert(Files.exists(dir.resolve("day=__HIVE_DEFAULT_PARTITION__")))
    // victim 'a' lives in BOTH the null partition and d1 — equi-joins on
    // the partition cols would miss the null one entirely
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("a").toDF("user"))
    assert(n == 2L, s"null partition and d1 both hold victims, got $n")
    val left = spark.read.parquet(dir.toString)
      .select("event_id").as[Long].collect().toSet
    assert(left == Set(2L, 4L), s"rows 1 and 3 must be gone: $left")
    assert(Files.exists(dir.resolve("day=__HIVE_DEFAULT_PARTITION__")),
      "null partition still holds survivor row 2")
    // and a delete that empties the null partition removes its dir
    TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("b").toDF("user"))
    assert(!Files.exists(dir.resolve("day=__HIVE_DEFAULT_PARTITION__")),
      "emptied null-partition dir must be removed")
  }

  test("partition value whose inferred form differs from its dir ('01' -> 1)") {
    val dir = Files.createTempDirectory("tdel7").resolve("lake")
    // written as STRING "01" -> dir day=01; read back, partition type
    // inference turns the value into long 1, so any path rebuilt from
    // the VALUE ("day=1") names a directory that does not exist — the
    // dirs must come from the actual files
    Seq((1L, "a", "01"), (2L, "a", "01"), (3L, "b", "30"))
      .toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    assert(Files.exists(dir.resolve("day=01")), "precondition: dir is day=01")
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("a").toDF("user"))
    assert(n == 1L)
    assert(!Files.exists(dir.resolve("day=01")),
      "fully-victim partition dir day=01 must be removed despite inference")
    val left = spark.read.parquet(dir.toString)
      .select("event_id").as[Long].collect().toSet
    assert(left == Set(3L))
  }

  test("a value in two dirs ('01' and '1'): a victim in either keeps every other row once") {
    // both dirs read back as value 1 and the overwrite replaces day=1
    // whole: the slice must carry the rows of both dirs, and the dir the
    // write did not replace must go — on both key routes
    for ((victim, kept) <- Seq("a" -> Seq(2L, 3L, 4L), "d" -> Seq(1L, 2L, 4L));
         bound <- Seq(1L, 0L)) {
      val dir = Files.createTempDirectory("tdel8").resolve("lake")
      Seq((1L, "a", "01"), (2L, "c", "01")).toDF("event_id", "user", "day")
        .write.partitionBy("day").parquet(dir.toString)
      Seq((3L, "d", "1"), (4L, "e", "1")).toDF("event_id", "user", "day")
        .write.mode("append").partitionBy("day").parquet(dir.toString)
      assert(Files.exists(dir.resolve("day=01")) && Files.exists(dir.resolve("day=1")),
        "precondition: value 1 lives in two dirs")
      val n = withBound(bound)(TargetedDelete.delete(spark, dir.toString, Seq("day"),
        "user", Seq(victim).toDF("user")))
      assert(n == 1L)
      assert(!Files.exists(dir.resolve("day=01")), s"$victim, bound $bound: day=01 goes")
      val left = spark.read.parquet(dir.toString).select("event_id").as[Long].collect()
      assert(left.sorted.toSeq == kept,
        s"$victim, bound $bound: every other row survives once: ${left.sorted.toSeq}")
    }
  }

  test("no victims present -> zero partitions rewritten, files identical") {
    val dir = Files.createTempDirectory("tdel4").resolve("lake")
    (1L to 40L).map(i => (i, s"u$i", s"d${i % 2}")).toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    val before = dataFiles(dir)
    val n = TargetedDelete.delete(spark, dir.toString, Seq("day"), "user",
      Seq("nobody").toDF("user"))
    assert(n == 0L)
    assert(dataFiles(dir) == before, "no-op delete must not rewrite anything")
  }

  /** Run `body` with the key-set bound at `n` distinct keys: above it a
    * delete takes the shuffle-join route, at or below the set route. */
  private def withBound[T](n: Long)(body: => T): T = {
    System.setProperty("graft.delete.broadcastKeys", n.toString)
    try body finally System.clearProperty("graft.delete.broadcastKeys")
  }

  /** Force the mass-victim regime (shuffle joins instead of key sets)
    * for the duration of `body` — VERDICT r11 items 1/4. */
  private def withJoinPath[T](body: => T): T = withBound(5L)(body)

  /** Every row of the table at `dir`, grouped by the partition dir (as
    * on disk, relative to the table) of the file holding it. */
  private def layout(dir: Path): Map[String, Set[Seq[Any]]] =
    spark.read.parquet(dir.toString)
      .withColumn("_dir", regexp_extract(input_file_name(), "/lake/(.*)/[^/]*$", 1))
      .collect().toSeq
      .groupBy(_.getAs[String]("_dir"))
      .map { case (d, rs) => d -> rs.map(r => (0 until r.length - 1).map(r.get)).toSet }

  test("set and join routes agree at the bound and one above it: null, escaped, inferred and emptied partitions") {
    val cases: Seq[(String, Seq[(Long, String, String)], Seq[String])] = Seq(
      ("null", Seq((1L, "a", null), (2L, "b", null), (3L, "a", "d1"), (4L, "c", "d1")),
        Seq("a", "b")),
      ("escaped", Seq((1L, "a", "US/east 1:a"), (2L, "b", "US/east 1:a"),
        (3L, "b", "plain"), (4L, "c", "plain")), Seq("a", "b")),
      // '01' reads back as 1: its survivor lands in the canonical dir
      // day=1 and the touched day=01 dir goes
      ("inferred", Seq((1L, "a", "01"), (2L, "c", "01"), (3L, "b", "30"), (4L, "c", "30")),
        Seq("a", "b")),
      ("emptied", Seq((1L, "a", "d0"), (2L, "a", "d0"), (3L, "b", "d1"), (4L, "c", "d1")),
        Seq("a", "nobody")))
    cases.foreach { case (name, rows, keys) =>
      def run(bound: Long): (Long, Map[String, Set[Seq[Any]]]) = {
        val dir = Files.createTempDirectory(s"troute_$name").resolve("lake")
        rows.toDF("event_id", "user", "day").write.partitionBy("day").parquet(dir.toString)
        val n = withBound(bound)(TargetedDelete.delete(spark, dir.toString, Seq("day"),
          "user", keys.toDF("user")))
        (n, layout(dir))
      }
      val set = run(keys.size.toLong)
      val join = run(keys.size - 1L)
      assert(set == join, s"$name: the set route gave $set, the join route $join")
      val left = set._2.values.flatten.map(_(1)).toSet
      assert(left == rows.map(_._2).toSet -- keys, s"$name: survivors $left")
    }
  }

  test("mass-victim JOIN path: same semantics, untouched files identical, emptied dirs removed") {
    val dir = Files.createTempDirectory("tdel6").resolve("lake")
    // d9 holds only victims (must be emptied+removed under the shuffle
    // path too — the input_file_name-before-exchange fix), d0..d8 mixed,
    // dcold victim-free
    (1L to 400L).map { i =>
      val day = if (i > 390L) "d9" else if (i % 2 == 0) "dcold" else s"d${i % 9}"
      (i, s"u$i", day)
    }.toDF("event_id", "user", "day")
      .write.partitionBy("day").parquet(dir.toString)
    val coldBefore = dataFiles(dir).filter(_._1.startsWith("day=dcold"))
    // 80 victims: all of d9 (391..400 are odd ids 391,393..399 → d9 has
    // ids where i>390: 391..400, of which odd ones; even go dcold... make
    // victims explicit instead: every id > 390 plus 75 odd ids
    val victimIds = ((1L to 150L).filter(_ % 2 == 1) ++ (391L to 400L)).distinct
    val victims = victimIds.toDF("event_id")
    withJoinPath {
      assert(TargetedDelete.broadcastKeyLimit == 5L)
      TargetedDelete.delete(spark, dir.toString, Seq("day"), "event_id", victims)
    }
    val after = spark.read.parquet(dir.toString)
    assert(after.filter(col("event_id").isin(victimIds: _*)).count() == 0L,
      "every victim must be gone under the join path")
    assert(after.count() == 400L - victimIds.count(i =>
      i <= 400L && (i % 2 == 1 || i > 390L)),
      "only victims may be deleted")
    assert(dataFiles(dir).filter(_._1.startsWith("day=dcold")) == coldBefore,
      "victim-free partitions must keep their exact files under the join path")
    assert(!Files.exists(dir.resolve("day=d9")),
      "the all-victim partition dir must be removed — input_file_name " +
        "must be captured before the shuffle exchange")
  }

  test("stageRewrite/applyStaged round-trip; restoreStaged recovers a cut-mid-swap partition (r15)") {
    // the staged-remove primitives: stage = live table untouched,
    // manifest complete; apply = rename flip; the crash window between
    // a partition's delete and its rename must be recoverable from the
    // surviving staged copy (review-caught r15 — an in-place replay
    // alone would read the partition as empty and lose its survivors)
    val dir = Files.createTempDirectory("stg").toString + "/t"
    val stage = Files.createTempDirectory("stgs").toString + "/s"
    (0 until 40).map(i => (i.toLong, i % 4, s"row$i"))
      .toDF("id", "b", "payload")
      .write.partitionBy("b").parquet(dir)
    val victims = Seq(1L, 5L, 9L).toDF("id") // all in b=1
    TargetedDelete.stageRewrite(spark, dir, stage, Seq("b"),
      mark = df => df.join(broadcast(victims), Seq("id"), "left_semi"),
      keep = df => df.join(broadcast(victims), Seq("id"), "left_anti"))
    // staging mutated nothing live
    assert(spark.read.parquet(dir).count() === 40L)
    // simulate the cut: live b=1 deleted, staged replacement intact
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(fs.delete(new org.apache.hadoop.fs.Path(s"$dir/b=1"), true))
    assert(spark.read.parquet(dir).count() === 30L,
      "the cut partition's rows are gone pre-recovery")
    TargetedDelete.restoreStaged(spark, dir, stage)
    val after = spark.read.parquet(dir)
    assert(after.count() === 37L, "recovery restores the staged content")
    assert(after.filter(col("id").isin(1L, 5L, 9L)).count() === 0L,
      "restored partition is the POST-rewrite content")
    assert(after.filter(col("b") === 1).count() === 7L,
      "unrelated survivors of the cut partition are back")
    // a second restore is a no-op (live dirs all present)
    TargetedDelete.restoreStaged(spark, dir, stage)
    assert(spark.read.parquet(dir).count() === 37L)
  }

  test("a pre-r19 parquet manifest directory is refused with a clear message") {
    val stage = Files.createTempDirectory("stgold").toString + "/s"
    Seq(("live", "staged", "")).toDF("live", "staged", "digest")
      .write.parquet(stage + ".manifest") // the pre-r19 layout
    Seq[() => Unit](
      () => TargetedDelete.readManifest(spark, stage),
      () => TargetedDelete.restoreStaged(spark, stage + "_table", stage)
    ).foreach { read =>
      val ex = intercept[IllegalStateException](read())
      assert(ex.getMessage.contains("pre-r19 parquet manifest") &&
        ex.getMessage.contains("re-run the removal from scratch"), ex.getMessage)
    }
  }

  test("stageRewrite value-match fallback survives partition type-inference drift (ADVICE r18)") {
    // live table with a NON-CANONICAL partition dir name (k=01 — the
    // day=01 class) plus a Long-forcing sibling (k=3000000000): the live
    // read infers k as LongType and value 1, but the staged REWRITE of
    // that partition writes the canonical dir k=1 — the rel-path map
    // misses, forcing the scan+value fallback. Read back on its own, the
    // staged subset {1} would infer IntegerType, and boxed Integer(1) !=
    // Long(1) would map the partition to _staged_dir=null — applyStaged
    // would then DELETE the live dir without renaming the replacement
    // in, silently losing every survivor row. The fallback must read the
    // staged tree under the LIVE schema.
    val dir = Files.createTempDirectory("stgdrift").toString + "/t"
    val stage = Files.createTempDirectory("stgdrifts").toString + "/s"
    (0 until 10).map(i => (i.toLong, 1L, s"row$i"))
      .toDF("id", "k", "payload")
      .unionByName(Seq((100L, 3000000000L, "big")).toDF("id", "k", "payload"))
      .write.partitionBy("k").parquet(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    assert(fs.rename(new org.apache.hadoop.fs.Path(s"$dir/k=1"),
      new org.apache.hadoop.fs.Path(s"$dir/k=01")),
      "fixture: non-canonical partition dir")
    val victims = Seq(1L, 5L).toDF("id")
    TargetedDelete.stageRewrite(spark, dir, stage, Seq("k"),
      mark = df => df.join(broadcast(victims), Seq("id"), "left_semi"),
      keep = df => df.join(broadcast(victims), Seq("id"), "left_anti"))
    // the staged manifest must map the touched live dir to its staged
    // replacement — a null _staged_dir here is the data-loss bug
    val manifest = TargetedDelete.readManifest(spark, stage)
    assert(manifest.length == 1 && manifest.head._2 != null,
      s"the value-match fallback must map k=01 to its staged dir: " +
        manifest.mkString(","))
    assert(TargetedDelete.applyStaged(spark, dir, stage))
    val after = spark.read.parquet(dir)
    assert(after.filter(col("id").isin(1L, 5L)).count() === 0L)
    assert(after.count() === 9L,
      "survivor rows of the drifted partition must be preserved")
    assert(after.filter(col("k") === 3000000000L).count() === 1L)
  }

  test("deleteAnyKey: either-endpoint match, one rewrite per touched partition") {
    val dir = Files.createTempDirectory("tdel7").resolve("edges")
    Seq((1L, 2L, "p0"), (2L, 3L, "p0"), (5L, 6L, "p1"), (7L, 1L, "p1"),
        (8L, 9L, "p2"))
      .toDF("u", "v", "pb").write.partitionBy("pb").parquet(dir.toString)
    val p2Before = dataFiles(dir).filter(_._1.startsWith("pb=p2"))
    val n = TargetedDelete.deleteAnyKey(spark, dir.toString, Seq("pb"),
      Seq("u", "v"), "id", Seq(1L).toDF("id"))
    assert(n == 2L, s"rows with 1 in either endpoint live in p0 and p1: $n")
    val left = spark.read.parquet(dir.toString)
      .select("u", "v").as[(Long, Long)].collect().toSet
    assert(left == Set((2L, 3L), (5L, 6L), (8L, 9L)),
      s"(1,2) and (7,1) must both be gone: $left")
    assert(dataFiles(dir).filter(_._1.startsWith("pb=p2")) == p2Before)
    // and under the forced join path, identical semantics
    val n2 = withJoinPath {
      TargetedDelete.deleteAnyKey(spark, dir.toString, Seq("pb"),
        Seq("u", "v"), "id", Seq(2L, 9L).toDF("id"))
    }
    assert(n2 == 2L)
    assert(spark.read.parquet(dir.toString)
      .select("u", "v").as[(Long, Long)].collect().toSet == Set((5L, 6L)))
  }
}
