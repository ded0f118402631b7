package graft.operators

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, LongType, StringType, StructType}

class MergeSpec extends SparkSpecBase {
  import spark.implicits._

  private def target = Seq(
    (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0)
  ).toDF("id", "name", "v")

  private def updates = Seq(
    (2L, "b2", 99.0),  // update existing key
    (4L, "d", 40.0)    // brand-new key
  ).toDF("id", "name", "v")

  test("updates win over target rows; new keys insert; others pass through") {
    val out = Merge.mergeInto(target, updates, Seq("id"))
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(out === Array(
      (1L, "a", 10.0), (2L, "b2", 99.0), (3L, "c", 30.0), (4L, "d", 40.0)))
  }

  test("merge is idempotent: applying the same updates twice == once") {
    val once = Merge.mergeInto(target, updates, Seq("id"))
    val twice = Merge.mergeInto(once, updates, Seq("id"))
    assert(twice.orderBy("id").collect() === once.orderBy("id").collect())
  }

  test("composite keys dedupe on the full key tuple") {
    val t = Seq((1L, "2024-01-01", 1.0), (1L, "2024-01-02", 2.0))
      .toDF("k", "day", "v")
    val u = Seq((1L, "2024-01-02", 20.0)).toDF("k", "day", "v")
    val out = Merge.mergeInto(t, u, Seq("k", "day"))
      .orderBy("k", "day").as[(Long, String, Double)].collect()
    assert(out === Array((1L, "2024-01-01", 1.0), (1L, "2024-01-02", 20.0)))
  }

  test("versionCol: the highest version wins regardless of side") {
    val t = Seq((1L, 5L, "newer-in-target")).toDF("id", "ver", "tag")
    val u = Seq((1L, 3L, "older-update")).toDF("id", "ver", "tag")
    val out = Merge.mergeInto(t, u, Seq("id"), versionCol = Some("ver"))
      .as[(Long, Long, String)].collect()
    assert(out === Array((1L, 5L, "newer-in-target")))
  }

  test("highWaterMark reads the incremental filter's bound") {
    val t = Seq((1L, 10L), (2L, 20L)).toDF("id", "created")
    assert(Incremental.highWaterMark(t, "created").contains(20L))
    // empty target → no bound, everything passes
    assert(Incremental.highWaterMark(t.filter(lit(false)), "created").isEmpty)
  }

  test("mergeWrite rewrites only touched partitions (O(delta) daily merge)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-mergewrite").toString + "/t"
    val day1 = Seq((1L, "2024-01-01", "a"), (2L, "2024-01-01", "b")).toDF("id", "day", "v")
    val day2 = Seq((3L, "2024-01-02", "c")).toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, day1.unionByName(day2), Seq("id"), "day")

    def partFiles(day: String): Map[String, Long] =
      new java.io.File(s"$dir/day=$day").listFiles()
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    val day1Before = partFiles("2024-01-01")

    // update only day 2: an upsert + an insert
    val updates = Seq((3L, "2024-01-02", "c2"), (4L, "2024-01-02", "d"))
      .toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, updates, Seq("id"), "day")

    // day-1 files are byte-for-byte untouched (same names, same mtimes)
    assert(partFiles("2024-01-01") === day1Before)
    // day-2 reflects the merge
    assert(spark.read.parquet(dir).orderBy("id")
      .select("id", "v").as[(Long, String)].collect() ===
      Array((1L, "a"), (2L, "b"), (3L, "c2"), (4L, "d")))
  }

  test("schema evolution: AppendNewColumns grows the schema, Ignore conforms") {
    val target = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val updates = Seq((2L, "b2", 20.0), (3L, "c", 30.0)).toDF("id", "v", "extra")
    // default (Ignore): extra update columns silently dropped — dbt default
    val ignored = Merge.mergeInto(target, updates, Seq("id"))
    assert(ignored.columns.toSeq === Seq("id", "v"))
    // append_new_columns: schema grows; pre-existing rows read null
    val grown = Merge.mergeInto(target, updates, Seq("id"),
      onSchemaChange = Merge.AppendNewColumns)
      .orderBy("id").as[(Long, String, Option[Double])].collect()
    assert(grown === Array((1L, "a", None), (2L, "b2", Some(20.0)),
      (3L, "c", Some(30.0))))
    // and updates MISSING a target column carry null rather than erroring
    val narrow = Seq((2L, 99.9)).toDF("id", "extra")
    val filled = Merge.mergeInto(
      target, narrow, Seq("id"), onSchemaChange = Merge.AppendNewColumns)
      .orderBy("id").as[(Long, Option[String], Option[Double])].collect()
    assert(filled === Array((1L, Some("a"), None), (2L, None, Some(99.9))))
  }

  test("mergeWrite preserves existing rows in the NULL partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-null").toString + "/t"
    val base = Seq((1L, Some("2024-01-01"), "a"), (2L, None: Option[String], "b"))
      .toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, base, Seq("id"), "day")
    // second merge touches ONLY the null partition with a new key —
    // key 2's existing null-partition row must survive the overwrite
    val upd = Seq((3L, None: Option[String], "c")).toDF("id", "day", "v")
    Merge.mergeWrite(spark, dir, upd, Seq("id"), "day")
    val out = spark.read.parquet(dir).orderBy("id")
      .select("id", "v").as[(Long, String)].collect()
    assert(out === Array((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("mergeWrite keeps numeric-looking STRING partition values stable") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-str").toString + "/t"
    val base = Seq((1L, "00123", "a")).toDF("id", "pc", "v")
    Merge.mergeWrite(spark, dir, base, Seq("id"), "pc")
    // without inference-off + cast, '00123' re-infers as int 123 and the
    // rewrite lands in a DIFFERENT directory, duplicating the key
    val upd = Seq((1L, "00123", "a2")).toDF("id", "pc", "v")
    Merge.mergeWrite(spark, dir, upd, Seq("id"), "pc")
    val out = spark.read.option("basePath", dir).parquet(dir)
    assert(out.count() === 1)
    assert(new java.io.File(s"$dir/pc=00123").exists())
    assert(!new java.io.File(s"$dir/pc=123").exists())
  }

  test("deleteWrite: rewrites only matched partitions, removes emptied ones, idempotent") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-del").toString + "/t"
    val rows = Seq(
      (1L, "d1", "a"), (2L, "d1", "b"), (3L, "d1", "c"),
      (4L, "d2", "d"), (5L, "d2", "e"),
      (6L, "d3", "f"), (7L, "d3", "g"))
    rows.toDF("id", "day", "v").write.partitionBy("day").parquet(dir)
    def files(p: String): Map[String, Long] = {
      val d = new java.io.File(p)
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val d3Before = files(s"$dir/day=d3")
    assert(d3Before.nonEmpty)
    // delete 2 of 3 rows in d1, ALL of d2, none of d3
    val stats = Merge.deleteWrite(spark, dir,
      Seq(1L, 2L, 4L, 5L).toDF("id"), Seq("id"), "day")
    assert(stats.rewritten === Seq("d1"))
    assert(stats.removed === Seq("d2"))
    assert(stats.untouched === 1L)
    val got = spark.read.parquet(dir).select("id", "day", "v")
      .as[(Long, String, String)].collect().toSet
    assert(got === Set((3L, "d1", "c"), (6L, "d3", "f"), (7L, "d3", "g")))
    // untouched partition's files are bit-for-bit the same files
    assert(files(s"$dir/day=d3") === d3Before)
    // emptied partition directory is GONE, not an empty husk
    assert(!new java.io.File(s"$dir/day=d2").exists())
    // idempotent: same keys again touch nothing
    val again = Merge.deleteWrite(spark, dir,
      Seq(1L, 2L, 4L, 5L).toDF("id"), Seq("id"), "day")
    assert(again.rewritten.isEmpty && again.removed.isEmpty)
    assert(spark.read.parquet(dir).count() === 3L)
  }

  test("deleteWrite: no matches anywhere is a clean no-op") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-del2").toString + "/t"
    Seq((1L, "d1", "a")).toDF("id", "day", "v")
      .write.partitionBy("day").parquet(dir)
    val stats = Merge.deleteWrite(spark, dir,
      Seq(99L).toDF("id"), Seq("id"), "day")
    assert(stats.rewritten.isEmpty && stats.removed.isEmpty &&
      stats.untouched === 1L)
    assert(spark.read.parquet(dir).count() === 1L)
  }

  test("mergeWrite leaves no staging directory behind") {
    val parent = java.nio.file.Files.createTempDirectory("graft-merge-stage").toString
    val dir = parent + "/t"
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a")).toDF("id", "day", "v"), Seq("id"), "day")
    // a second merge reads and replaces the partition the first wrote
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a2"), (2L, "2024-01-02", "b")).toDF("id", "day", "v"),
      Seq("id"), "day")
    assert(stagingDirs(parent, dir).isEmpty, stagingDirs(parent, dir).mkString(","))
    assert(spark.read.parquet(dir).select("id", "v").as[(Long, String)]
      .collect().toSet === Set((1L, "a2"), (2L, "b")))
  }

  /** Staging leftovers: Spark's `.spark-staging-*` in the table, a
    * `_merge_stage_*` sibling next to it. */
  private def stagingDirs(parent: String, dir: String): Seq[String] =
    new java.io.File(parent).listFiles().map(_.getName).filter(_.contains("_merge_stage")).toSeq ++
      new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith(".spark-staging"))

  /** Every partition file of the table: path under `dir` → mtime. */
  private def tableFiles(dir: String): Map[String, Long] =
    new java.io.File(dir).listFiles().filter(_.isDirectory).toSeq
      .flatMap(d => d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => s"${d.getName}/${f.getName}" -> f.lastModified())).toMap

  test("a mergeWrite whose write job fails leaves the target unchanged") {
    val parent = java.nio.file.Files.createTempDirectory("graft-merge-crash").toString
    val dir = parent + "/t"
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a"), (2L, "2024-01-02", "b")).toDF("id", "day", "v"),
      Seq("id"), "day")
    val before = tableFiles(dir)
    val rowsBefore = spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq
    // the value column fails only when the write job computes it: the
    // touched-partition probe selects `day` alone and never runs it
    val boom = udf((v: String) =>
      if (v == "boom") throw new IllegalStateException("injected") else v)
    val updates = Seq((2L, "2024-01-02", "b2"), (3L, "2024-01-03", "boom"))
      .toDF("id", "day", "v").withColumn("v", boom($"v"))
    intercept[Exception](Merge.mergeWrite(spark, dir, updates, Seq("id"), "day"))
    assert(tableFiles(dir) === before)
    assert(!new java.io.File(s"$dir/day=2024-01-03").exists())
    assert(stagingDirs(parent, dir).isEmpty, stagingDirs(parent, dir).mkString(","))
    assert(spark.read.parquet(dir).collect().map(_.toString).sorted.toSeq === rowsBefore)
  }

  private def columns(schema: StructType): Seq[(String, DataType)] =
    schema.map(f => f.name -> f.dataType)

  test("mergeWrite conforms updates to the stored schema, overlapping or not") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-conform").toString + "/t"
    Merge.mergeWrite(spark, dir,
      Seq((1L, "2024-01-01", "a")).toDF("id", "day", "v"), Seq("id"), "day")
    // overlapping (reads the target slice) and new-partitions-only
    // (reads no target data: the schema comes from a file footer)
    for ((day, id) <- Seq("2024-01-01" -> 2L, "2024-01-09" -> 4L)) {
      val extra = Seq((id, day, "b", 9.0)).toDF("id", "day", "v", "extra")
      val written = Merge.mergeWrite(spark, dir, extra, Seq("id"), "day")
      assert(spark.read.parquet(dir).columns.toSeq === Seq("id", "v", "day"), day)
      assert(written.map(columns) === Some(Seq(
        "id" -> LongType, "v" -> StringType, "day" -> StringType)), day)
      val before = tableFiles(dir)
      intercept[org.apache.spark.sql.AnalysisException](Merge.mergeWrite(spark, dir,
        Seq((3L, day)).toDF("id", "day"), Seq("id"), "day"))
      assert(tableFiles(dir) === before, day)
    }
    assert(spark.read.parquet(dir).select("id", "day").as[(Long, String)].collect().toSet ===
      Set((1L, "2024-01-01"), (2L, "2024-01-01"), (4L, "2024-01-09")))
  }

  test("mergeWrite returns None and writes nothing for empty updates on a missing table") {
    val dir = java.nio.file.Files.createTempDirectory("graft-merge-empty").toString + "/t"
    val empty = Seq.empty[(Long, String, String)].toDF("id", "day", "v")
    assert(Merge.mergeWrite(spark, dir, empty, Seq("id"), "day").isEmpty)
    assert(!new java.io.File(dir).exists())
    Merge.mergeWrite(spark, dir, Seq((1L, "2024-01-01", "a")).toDF("id", "day", "v"),
      Seq("id"), "day")
    assert(Merge.mergeWrite(spark, dir, empty, Seq("id"), "day").map(columns) === Some(Seq(
      "id" -> LongType, "v" -> StringType, "day" -> StringType)))
  }

  test("partitionHighWaterMark equals highWaterMark: missing, empty, NULL partition") {
    val root = java.nio.file.Files.createTempDirectory("graft-hwm").toString
    def both(dir: String): (Option[Any], Option[Any]) = {
      val scanned =
        if (!graft.sources.Fs.exists(spark, dir)) None
        else Incremental.highWaterMark(spark.read.parquet(dir), "day")
      (Incremental.partitionHighWaterMark(spark, dir, "day", DateType), scanned)
    }
    assert(both(s"$root/missing") === ((None, None)))
    val t = s"$root/t"
    Seq((1L, Some("2024-01-02")), (2L, None: Option[String]), (3L, Some("2024-01-10")))
      .toDF("id", "day").withColumn("day", to_date($"day"))
      .write.partitionBy("day").parquet(t)
    // a partition directory without a data file is not a value
    new java.io.File(s"$t/day=2024-02-01").mkdirs()
    val (listed, scanned) = both(t)
    assert(listed === scanned)
    assert(listed.contains(java.sql.Date.valueOf("2024-01-10")))
    // only the NULL partition left: no high-water mark on either side
    Merge.deleteWrite(spark, t, Seq(1L, 3L).toDF("id"), Seq("id"), "day")
    assert(both(t) === ((None, None)))
  }
}
