package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.etl.Skew
import graft.sources.{Readers, Writers}

class SourcesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("csv round-trip with explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a,b", 1.5), (2L, "plain", 2.5)).toDF("id", "s", "v")
    Writers.csv(df, s"$dir/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val back = Readers.csv(spark, s"$dir/out", schema)
      .orderBy("id").as[(Long, String, Double)].collect()
    assert(back.toSeq == Seq((1L, "a,b", 1.5), (2L, "plain", 2.5)))
  }

  test("partitioned parquet writes partition directories and prunes on read") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val df = Tables.orders(spark, TestSpark.Sf)
    Writers.parquet(df, s"$dir/out", partitionBy = Seq("o_orderstatus"))
    assert(new java.io.File(s"$dir/out").list().exists(_.startsWith("o_orderstatus=")))
    val pruned = Readers.parquet(spark, s"$dir/out").filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"), plan)
    assert(pruned.count() == df.filter(col("o_orderstatus") === "F").count())
  }

  test("overwritePartitions backfills one partition, leaves the rest untouched") {
    val dir = Files.createTempDirectory("graft_dpo").toString
    val base = Seq((1L, "d1", 10L), (2L, "d1", 20L),
                   (3L, "d2", 30L), (4L, "d3", 40L)).toDF("id", "day", "v")
    Writers.parquet(base, s"$dir/t", partitionBy = Seq("day"))
    // backfill ONLY day=d2 with corrected rows
    val fix = Seq((3L, "d2", 99L), (5L, "d2", 55L)).toDF("id", "day", "v")
    Writers.overwritePartitions(fix, s"$dir/t", partitionBy = Seq("day"))
    def readAll() = Readers.parquet(spark, s"$dir/t")
      .select("id", "day", "v").as[(Long, String, Long)].collect().toSeq.sorted
    val after = readAll()
    assert(after == Seq((1L, "d1", 10L), (2L, "d1", 20L),
      (3L, "d2", 99L), (4L, "d3", 40L), (5L, "d2", 55L)),
      s"got $after")
    // idempotent: re-running the same backfill changes nothing
    Writers.overwritePartitions(fix, s"$dir/t", partitionBy = Seq("day"))
    assert(readAll() == after)
    // contrast: a static overwrite of the same frame WOULD have
    // dropped d1/d3 — the failure mode this writer exists to prevent
    val dir2 = Files.createTempDirectory("graft_dpo2").toString
    Writers.parquet(base, s"$dir2/t", partitionBy = Seq("day"))
    Writers.parquet(fix, s"$dir2/t", partitionBy = Seq("day"))
    assert(Readers.parquet(spark, s"$dir2/t").count() == 2)
  }

  test("compact collapses a many-small-file table without changing its rows") {
    val dir = Files.createTempDirectory("graft_compact").toString
    val df = Tables.part(spark, TestSpark.Sf)
    df.repartition(64).write.parquet(s"$dir/t")
    val filesBefore = new java.io.File(s"$dir/t").list().count(_.endsWith(".parquet"))
    assert(filesBefore == 64, s"setup expected 64 files, got $filesBefore")
    val (before, after) = Writers.compact(spark, s"$dir/t", targetFileBytes = 1L << 30)
    assert(before == 64 && after == 1, s"($before, $after)")
    // content identical, previous layout swept
    val back = spark.read.parquet(s"$dir/t")
    assert(back.count() == df.count())
    assert(back.agg(sum("p_partkey")).as[Long].head() ==
      df.agg(sum("p_partkey")).as[Long].head())
    assert(!new java.io.File(s"$dir/.t.previous").exists())
    assert(!new java.io.File(s"$dir/.t.compact-inprogress").exists())
  }

  test("compact preserves partition directories and compacts within each") {
    val dir = Files.createTempDirectory("graft_compact_p").toString
    val df = Tables.orders(spark, TestSpark.Sf)
    df.repartition(16).write.partitionBy("o_orderstatus").parquet(s"$dir/t")
    val statusDirs = new java.io.File(s"$dir/t").list().filter(_.startsWith("o_orderstatus="))
    val beforePerDir = new java.io.File(s"$dir/t/${statusDirs.head}")
      .list().count(_.endsWith(".parquet"))
    assert(beforePerDir > 1, s"setup expected multiple files per partition, got $beforePerDir")
    val (_, after) = Writers.compact(spark, s"$dir/t", targetFileBytes = 1L << 30,
      partitionBy = Seq("o_orderstatus"))
    val dirsAfter = new java.io.File(s"$dir/t").list().filter(_.startsWith("o_orderstatus="))
    assert(dirsAfter.sorted.toSeq == statusDirs.sorted.toSeq, "partition layout must survive")
    assert(after == dirsAfter.length, s"expected 1 file per partition dir, got $after total")
    assert(spark.read.parquet(s"$dir/t").count() == df.count())
  }

  test("compactSmallFiles merges only the small tail; large files untouched byte-for-byte") {
    val dir = Files.createTempDirectory("graft_compact_sz").toString
    val big = Tables.lineitem(spark, TestSpark.Sf).select("l_orderkey", "l_partkey")
    big.coalesce(1).write.parquet(s"$dir/t") // one large file
    val small = Tables.part(spark, TestSpark.Sf).select(
      col("p_partkey").as("l_orderkey"), col("p_partkey").as("l_partkey"))
    small.repartition(8).write.mode(SaveMode.Append).parquet(s"$dir/t") // 8 small peers
    val tdir = new java.io.File(s"$dir/t")
    def dataFiles() = tdir.listFiles.filter(f =>
      f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    val beforeFiles = dataFiles()
    val largest = beforeFiles.maxBy(_.length)
    val (largeName, largeLen, largeMod) = (largest.getName, largest.length, largest.lastModified)
    val expectRows = spark.read.parquet(s"$dir/t").count()
    val expectSum = spark.read.parquet(s"$dir/t").agg(sum("l_partkey")).as[Long].head()

    // threshold sits between the small peers and the large file
    val (rewritten, created) = Writers.compactSmallFiles(spark, s"$dir/t",
      minFileBytes = largeLen, targetFileBytes = 1L << 30)
    assert(rewritten == 8 && created == 1, s"($rewritten, $created)")
    // the large file survived IN PLACE — same name, bytes, mtime
    val after = dataFiles()
    val survivor = after.find(_.getName == largeName)
    assert(survivor.isDefined, "large file must not be rewritten")
    assert(survivor.get.length == largeLen && survivor.get.lastModified == largeMod)
    assert(after.length == 2, s"expected large + 1 merged, got ${after.map(_.getName).toSeq}")
    // rows identical, no marker/tmp debris
    assert(spark.read.parquet(s"$dir/t").count() == expectRows)
    assert(spark.read.parquet(s"$dir/t").agg(sum("l_partkey")).as[Long].head() == expectSum)
    assert(!new java.io.File(s"$dir/t/_graft_compaction_pending").exists())
    assert(!new java.io.File(s"$dir/.t.compact-small-inprogress").exists())
  }

  test("compactSmallFiles completes an interrupted swap (pending marker) first") {
    val dir = Files.createTempDirectory("graft_compact_rec").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    df.repartition(3).write.parquet(s"$dir/t")
    val tdir = new java.io.File(s"$dir/t")
    val victims = tdir.listFiles.filter(_.getName.endsWith(".parquet")).take(1)
    // simulate a crash between merge-in and delete-originals: the
    // marker lists a file whose rows already exist in merged output.
    // Here we fake it minimally — marker lists one real file; recovery
    // must delete it and the marker, leaving the rest untouched.
    val marker = new java.io.File(s"$dir/t/_graft_compaction_pending")
    java.nio.file.Files.write(marker.toPath, victims.map(_.getName).mkString("\n").getBytes)
    val n = Writers.finishPendingCompaction(spark, s"$dir/t")
    assert(n == 1, s"one marker expected, got $n")
    assert(!marker.exists, "marker must be removed")
    assert(victims.forall(!_.exists), "listed originals must be deleted")
    assert(spark.read.parquet(s"$dir/t").count() == 2)
  }

  test("finishPendingCompaction restores staged merged files BEFORE deleting originals") {
    // the r15 no-loss window: a crash between the marker write and the
    // merge-in renames leaves the merged replacements in the hidden
    // staging dir — recovery must move them in first, or deleting the
    // listed originals destroys the small tail's rows
    val dir = Files.createTempDirectory("graft_compact_win").toString
    val df = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s")
    df.repartition(3).write.parquet(s"$dir/t")
    val tdir = new java.io.File(s"$dir/t")
    val victims = tdir.listFiles
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName).take(2)
    // stage the merged output of the two victims (what step 1 built)
    val tmpName = ".t.compact-small-inprogress"
    spark.read.parquet(victims.map(_.getPath).toIndexedSeq: _*)
      .coalesce(1).write.parquet(s"$dir/$tmpName")
    // commit marker naming the staging dir + the doomed originals —
    // then "crash" before any merge-in rename
    val marker = new java.io.File(s"$dir/t/_graft_compaction_pending")
    java.nio.file.Files.write(marker.toPath,
      (s"tmp=$tmpName" +: victims.map(_.getName).toIndexedSeq)
        .mkString("\n").getBytes("UTF-8"))
    val n = Writers.finishPendingCompaction(spark, s"$dir/t")
    assert(n == 1)
    // every row survives: the merged file moved in, originals retired
    assert(spark.read.parquet(s"$dir/t").orderBy("id")
      .as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(victims.forall(!_.exists), "originals must be retired")
    assert(!marker.exists, "marker must be cleared")
    assert(!new java.io.File(s"$dir/$tmpName").exists, "staging dir must be swept")
    // double-recovery is a no-op
    assert(Writers.finishPendingCompaction(spark, s"$dir/t") == 0)
    assert(spark.read.parquet(s"$dir/t").count() == 3)
  }

  test("publish, writeShards and compact complete a swap interrupted between its renames") {
    // crash window of the hidden-sibling swap: the old directory already
    // moved to `.t.previous`, the complete new one still at its staging
    // name, `t` absent. Re-running the same call must commit, leaving
    // exactly the new rows and no debris. The staged side holds v2 and
    // the old side v1, so a heal that rolled back instead of forward
    // shows up as v1 rows after `compact`.
    def rows(v: Int) = (1 to 4).map(i => (i.toLong, s"v$v-$i"))
    def plan(v: Int) = rows(v).map { case (id, s) => ((id % 2).toInt, id, id, 2L, s) }
      .toDF("shard", "seq", "doc_id", "n_tok", "text")
    def sorted(p: String) = spark.read.parquet(p).collect().map(_.toString).sorted.toSeq
    // (call, staging suffix, build version v at a path, re-run with v2, contents)
    val cases = Seq[(String, String, (Int, String) => Unit, String => Unit, String => Seq[String])](
      ("publish", "inprogress",
        (v, p) => Writers.publish(rows(v).toDF("id", "tag"), p),
        p => Writers.publish(rows(2).toDF("id", "tag"), p),
        sorted),
      ("writeShards", "inprogress",
        (v, p) => Writers.writeShards(plan(v), p),
        p => Writers.writeShards(plan(2), p),
        p => sorted(p) ++ sorted(s"$p/_manifest")),
      ("compact", "compact-inprogress",
        (v, p) => {
          rows(v).toDF("id", "tag").repartition(4).write.parquet(p)
          Writers.compact(spark, p, targetFileBytes = 1L << 30)
        },
        p => Writers.compact(spark, p, targetFileBytes = 1L << 30),
        sorted))
    cases.foreach { case (name, suffix, build, rerun, contents) =>
      val dir = Files.createTempDirectory(s"graft_swap_$name").toString
      def mv(a: String, b: String): Unit =
        assert(new java.io.File(dir, a).renameTo(new java.io.File(dir, b)), s"$name: $a -> $b")
      build(2, s"$dir/ref")
      val want = contents(s"$dir/ref")
      build(1, s"$dir/t")
      build(2, s"$dir/staged")
      mv("staged", s".t.$suffix")
      mv("t", ".t.previous")
      rerun(s"$dir/t")
      assert(contents(s"$dir/t") == want, s"$name: rows after the heal")
      val debris = new java.io.File(dir).list()
        .filter(n => n.contains("previous") || n.contains("inprogress"))
      assert(debris.isEmpty, s"$name left ${debris.toSeq}")
    }
  }

  test("orc round-trip preserves values and pushes filters to the scan") {
    val dir = Files.createTempDirectory("graft_orc").toString
    val df = Seq((1L, "x", 1.5), (2L, "y", 2.5), (3L, "z", 3.5)).toDF("id", "s", "v")
    df.write.mode(SaveMode.Overwrite).orc(s"$dir/out")
    val back = Readers.orc(spark, s"$dir/out").filter(col("id") > 1)
    assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((2L, "y", 2.5), (3L, "z", 3.5)))
    val scan = back.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters: [IsNotNull(id), GreaterThan(id,1)]"), scan.take(600))
  }

  test("xml round-trip via the native Spark 4 source; malformed records coerce, not fail") {
    import org.apache.spark.sql.types._
    val dir = Files.createTempDirectory("graft_xml").toString
    val df = Seq((1L, "alpha", 1.5), (2L, "be<ta>&", 2.5), (3L, null, 3.5))
      .toDF("id", "s", "v")
    df.write.mode(SaveMode.Overwrite)
      .option("rowTag", "rec").option("rootTag", "recs")
      .format("xml").save(s"$dir/out")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    val back = Readers.xml(spark, s"$dir/out", schema, rowTag = "rec")
    // values survive, including XML-escaped characters and nulls
    assert(back.orderBy("id").as[(Long, Option[String], Double)].collect().toSeq ==
      Seq((1L, Some("alpha"), 1.5), (2L, Some("be<ta>&"), 2.5), (3L, None, 3.5)))
    // PERMISSIVE: a malformed record nulls out instead of failing the job
    val badDir = Files.createTempDirectory("graft_xml_bad").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(badDir, "part.xml"),
      "<recs><rec><id>7</id><s>ok</s><v>1.0</v></rec>" +
        "<rec><id>not_a_long</id><s>bad</s><v>2.0</v></rec></recs>")
    val mixed = Readers.xml(spark, badDir, schema, rowTag = "rec")
      .select("id", "s").as[(Option[Long], Option[String])].collect().toSeq
    assert(mixed.contains((Some(7L), Some("ok"))))
    assert(mixed.exists(_._1.isEmpty), "malformed record should coerce to null id")
  }

  test("avro round-trip with explicit schema; malformed container coerces via _corrupt_record") {
    import graft.sources.Avro
    val dir = Files.createTempDirectory("graft_avro").toString
    // mixed types incl. nullable string, binary, and an embeddings-
    // shaped float array — the supported surface, exercised end-to-end
    val df = Seq(
        (1L, Option("alpha"), 1.5, Array[Byte](1, 2), Seq(0.25f, -1.0f)),
        (2L, None, 2.5, Array[Byte](3), Seq(0.5f)),
        (3L, Option("gamma"), 3.5, Array.empty[Byte], Seq.empty[Float]))
      .toDF("id", "s", "v", "b", "emb")
      .repartition(2)
    Avro.write(df, s"$dir/out")
    val schema = df.schema
    val back = Avro.read(spark, s"$dir/out", schema)
      .orderBy("id")
      .as[(Long, Option[String], Double, Array[Byte], Seq[Float])]
      .collect().toSeq
      .map(t => (t._1, t._2, t._3, t._4.toSeq, t._5))
    assert(back == Seq(
      (1L, Some("alpha"), 1.5, Seq[Byte](1, 2), Seq(0.25f, -1.0f)),
      (2L, None, 2.5, Seq[Byte](3), Seq(0.5f)),
      (3L, Some("gamma"), 3.5, Seq.empty[Byte], Seq.empty[Float])))
    // field-by-NAME mapping: a narrower read schema projects, an
    // extra requested column reads null (the schema-evolution posture)
    val proj = Avro.read(spark, s"$dir/out", StructType(Seq(
        StructField("v", DoubleType), StructField("id", LongType),
        StructField("later_added", StringType))))
      .orderBy("id").as[(Double, Long, Option[String])].collect().toSeq
    assert(proj == Seq((1.5, 1L, None), (2.5, 2L, None), (3.5, 3L, None)))
    // PERMISSIVE: a planted non-Avro file coerces to one all-null row
    // carrying its path in _corrupt_record instead of failing the job
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "out", "junk.avro"),
      "this is not an avro container".getBytes("UTF-8"))
    val permissive = StructType(schema.fields.toSeq :+
      StructField("_corrupt_record", StringType))
    val mixed = Avro.read(spark, s"$dir/out", permissive)
    assert(mixed.count() == 4L)
    val bad = mixed.filter(col("_corrupt_record").isNotNull)
      .select("_corrupt_record", "id").as[(String, Option[Long])].collect().toSeq
    assert(bad.length == 1 && bad.head._1.endsWith("junk.avro") &&
      bad.head._2.isEmpty, bad.toString)
    // strict read (no _corrupt_record column) fails loudly on the junk
    val err = intercept[Exception](Avro.read(spark, s"$dir/out", schema).count())
    assert(err.getMessage != null)
  }

  test("binaryFile ingestion yields (path, length, content) rows, glob-pruned at listing") {
    val dir = Files.createTempDirectory("graft_bin").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.img"), Array[Byte](1, 2, 3))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "b.img"), Array[Byte](4, 5))
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "skip.txt"), Array[Byte](9))
    val rows = Readers.binaryFiles(spark, dir, Some("*.img"))
      .select(col("path"), col("length"), col("content"))
      .collect()
      .map(r => (r.getString(0).split('/').last, r.getLong(1), r.getAs[Array[Byte]](2).toSeq))
      .sortBy(_._1)
    assert(rows.toSeq == Seq(("a.img", 3L, Seq[Byte](1, 2, 3)), ("b.img", 2L, Seq[Byte](4, 5))))
  }

  test("jdbc reader/writer builders carry partitioning and batching options") {
    val r = Readers.jdbc(spark, "jdbc:mysql://host:3306/db", "grammy",
      partitionColumn = Some(("id", 0L, 1000L, 8)))
    // builder is structural only (no DB here): firing it must fail on
    // the missing driver, not on option plumbing
    val err = intercept[Exception](r.load())
    assert(err.getMessage != null)
    val w = Writers.jdbc(Seq((1, "x")).toDF("id", "s"), "jdbc:mysql://h/db", "t")
    val err2 = intercept[Exception](w.save())
    assert(err2.getMessage != null)
  }

  test("json reader honors the explicit schema (no inference pass)") {
    val dir = Files.createTempDirectory("graft_json").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/a.json"),
      """{"id": 1, "name": "x", "score": 1.5}
        |{"id": 2, "name": "y"}
        |{"id": "not-a-number", "name": "bad"}
        |""".stripMargin)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType)))
    val back = Readers.json(spark, dir, schema)
      .orderBy(asc_nulls_last("id"))
      .as[(Option[Long], Option[String], Option[Double])].collect().toSeq
    // missing field → null; unparseable field → null for THAT field
    // only, parseable siblings survive (PERMISSIVE)
    assert(back == Seq(
      (Some(1L), Some("x"), Some(1.5)),
      (Some(2L), Some("y"), None),
      (None, Some("bad"), None)))
  }

  test("jdbc round-trip against embedded Derby (write, partitioned read)") {
    // Derby ships in /opt/spark/jars — the one real JDBC engine here;
    // mirrors the reference's MySQL extract/load
    // (dags/etl_grammy_spotify.py:55-67, :370-376)
    val dir = Files.createTempDirectory("graft_derby").toString
    val url = s"jdbc:derby:$dir/db;create=true"
    val derby = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val df = Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0))
      .toDF("id", "name", "score")
    // Spark's default dialect maps StringType to TEXT, which Derby
    // lacks — column types must be explicit (same for MySQL LONGTEXT
    // tuning in production)
    Writers.jdbc(df, url, "artists",
        props = derby + ("createTableColumnTypes" ->
          "id BIGINT, name VARCHAR(64), score DOUBLE"))
      .save()
    val back = Readers.jdbc(spark, url, "artists",
        partitionColumn = Some(("id", 0L, 4L, 2)), props = derby)
      .load()
    assert(back.rdd.getNumPartitions == 2, "bounded read should split into 2 partitions")
    assert(back.orderBy("id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "alpha", 10.5), (2L, "beta", 20.25), (3L, "gamma", 30.0)))
    // overwrite (truncate) path: the `to_sql(if_exists="replace")` analog
    Writers.jdbc(df.filter(col("id") <= 2), url, "artists",
        props = derby + ("createTableColumnTypes" ->
          "id BIGINT, name VARCHAR(64), score DOUBLE"))
      .save()
    assert(Readers.jdbc(spark, url, "artists", props = derby).load().count() == 2)
  }

  test("publish replaces the target atomically and is idempotent") {
    val dir = Files.createTempDirectory("graft_pub").toString
    val uri = s"$dir/artifact"
    Writers.publish(Seq((1L, "v1")).toDF("id", "tag"), uri, format = "csv")
    Writers.publish(Seq((2L, "v2"), (3L, "v2")).toDF("id", "tag"), uri, format = "csv")
    val schema = StructType(Seq(StructField("id", LongType), StructField("tag", StringType)))
    val back = Readers.csv(spark, uri, schema).orderBy("id").as[(Long, String)].collect()
    assert(back.toSeq == Seq((2L, "v2"), (3L, "v2")), "second publish must fully replace the first")
    assert(!new java.io.File(dir).list().exists(_.contains("inprogress")),
      "no temp dirs left behind")
  }

  test("salted join distributes a skewed key and preserves results") {
    val facts = Seq.tabulate(1000)(i => (if (i % 10 == 0) "hot" else s"k$i", i))
      .toDF("key", "v")
    val dims = Seq(("hot", "H"), ("k1", "A")).toDF("key", "name")
    val plain = facts.join(dims, Seq("key")).agg(sum("v")).as[Long].head()
    val salted = Skew.saltedJoin(facts, dims, "key", nSalts = 8)
      .agg(sum("v")).as[Long].head()
    val saltedDet = Skew.saltedJoinBy(facts, dims, "key", col("v"), nSalts = 8)
      .agg(sum("v")).as[Long].head()
    assert(salted == plain && saltedDet == plain)
  }

  test("custom expressions are SQL-callable after registration") {
    GraftFunctions.register(spark)
    val r = spark.sql(
      "SELECT fingerprint64('abc') AS f, simhash64(shingle_fingerprints('a b c d')) AS s")
      .as[(Long, Long)].head()
    val v = spark.sql(
      """SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d,
        |       sig_match_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS m,
        |       size(band_hashes(minhash_signature(shingle_fingerprints('a b c d e')))) AS nb
        |""".stripMargin).as[(Double, Long, Int)].head()
    assert(v == ((11.0, 2L, 16)))
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      s.getBytes("UTF-8").foreach { b => h ^= (b & 0xffL); h *= 0x100000001b3L }
      h
    }
    assert(r._1 == fnv("abc"))
  }

  test("sketch store: OR-merged per-batch blooms equal the one-pass union bloom") {
    import graft.functions.BloomFilter
    import graft.sources.SketchStore
    val d1 = Files.createTempDirectory("bloom_a").toString
    val d2 = Files.createTempDirectory("bloom_b").toString
    val a = (1L to 400L).toDF("k")
    val b = (300L to 700L).toDF("k")
    // expectedKeys must MATCH across batches (same sizing → same bit
    // geometry); that's the contract mergeBloom enforces
    val fa = BloomFilter.buildLong(a, "k", expectedKeys = 1000L)
    val fb = BloomFilter.buildLong(b, "k", expectedKeys = 1000L)
    SketchStore.saveBloom(spark, fa, d1)
    SketchStore.saveBloom(spark, fb, d2)
    val merged = SketchStore.mergeBloom(
      SketchStore.loadBloom(spark, d1), SketchStore.loadBloom(spark, d2))
    // bloom insert only sets bits → OR-merge is BIT-identical to the
    // union-built filter, not merely equivalent
    val union = BloomFilter.buildLong(a.unionAll(b), "k", expectedKeys = 1000L)
    assert(merged.words.toSeq == union.words.toSeq)
    assert((1L to 700L).forall(merged.contains), "merged sketch lost a key")
    val fresh = (100000L to 101000L).count(merged.contains)
    assert(fresh <= 50, s"fp rate implausibly high: $fresh/1000")
    intercept[IllegalArgumentException] {
      SketchStore.mergeBloom(fa, BloomFilter.buildLong(b, "k", expectedKeys = 1000000L))
    }
  }

  test("sketch store: quantiles from merged per-batch histograms equal the direct computation") {
    import graft.functions.ExactPercentile
    import graft.sources.SketchStore
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
    // three deterministic disjoint batches covering the table
    val parts = (0 until 3).map(i => li.filter(pmod(xxhash64(col("l_extendedprice")), lit(3)) === i))
    val dirs = parts.zipWithIndex.map { case (p, i) =>
      val d = Files.createTempDirectory(s"hist_$i").toString
      SketchStore.saveHistogram(p, Seq("l_returnflag"), col("l_extendedprice"),
        valPow = 2, dir = d)
      d
    }
    val pcts = Seq(ExactPercentile.Pct("p50_milli", 1, 2),
      ExactPercentile.Pct("p90_milli", 9, 10))
    val merged = SketchStore.mergeHistograms(spark, dirs, Seq("l_returnflag"))
    val got = SketchStore.quantilesFromHistogram(merged, Seq("l_returnflag"),
        valPow = 2, outPow = 3, pcts)
      .orderBy("l_returnflag")
      .as[(String, Long, Long)].collect().toSeq
    // the artifact path must be BIT-identical to the one-pass direct
    // quantile over the union — exact summaries, not approximations
    val want = ExactPercentile.quantiles(li, Seq("l_returnflag"),
        col("l_extendedprice"), valPow = 2, outPow = 3, pcts)
      .orderBy("l_returnflag")
      .as[(String, Long, Long)].collect().toSeq
    assert(want.nonEmpty && got == want, s"got=$got want=$want")
    // merge is order-invariant, and a SAVED merged artifact re-merges
    // losslessly (counts add associatively)
    val d2 = Files.createTempDirectory("hist_merged").toString + "/part"
    SketchStore.mergeHistograms(spark, dirs.reverse, Seq("l_returnflag"))
      .write.parquet(d2)
    val got2 = SketchStore.quantilesFromHistogram(
        SketchStore.mergeHistograms(spark, Seq(d2), Seq("l_returnflag")),
        Seq("l_returnflag"), valPow = 2, outPow = 3, pcts)
      .orderBy("l_returnflag").as[(String, Long, Long)].collect().toSeq
    assert(got2 == want, "re-merged saved artifact must reproduce the quantiles")
  }

  test("sketch store: per-batch HLL artifacts union to the one-pass sketch estimate") {
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf).select("event_type", "user_id")
    val parts = (0 until 2).map(i => ev.filter(pmod(col("user_id"), lit(2)) === i))
    val dirs = parts.zipWithIndex.map { case (p, i) =>
      val d = Files.createTempDirectory(s"hll_$i").toString
      SketchStore.saveHll(p, Seq("event_type"), col("user_id"), d)
      d
    }
    val got = SketchStore.unionHll(spark, dirs, Seq("event_type"))
      .orderBy("event_type")
      .select(col("event_type"), col("approx_distinct").cast("long"), col("n_rows"))
      .as[(String, Long, Long)].collect().toSeq
    val want = ev.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).cast("long").as("e"),
        count(lit(1)).as("n"))
      .orderBy("event_type").as[(String, Long, Long)].collect().toSeq
    // lossless union at equal lgK: the merged registers ARE the
    // one-pass registers, so the estimates match exactly
    assert(want.nonEmpty && got == want, s"got=$got want=$want")
  }

  test("sketch store: SpaceSaving top-k artifacts merge inside the summed error bound") {
    import graft.sources.SketchStore
    // zipf-ish stream: item i appears ~1000/i times over a 200-item
    // domain; capacity 16 << domain → genuinely approximate regime
    val stream = (1 to 200).flatMap(i => Seq.fill(1000 / i)(f"item$i%03d"))
    val exact = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cap = 16
    // three deterministic batches (by hash), one artifact each
    val batches = (0 until 3).map(b => stream.filter(s => math.abs(s.hashCode) % 3 == b))
    val dirs = batches.zipWithIndex.map { case (b, i) =>
      val d = Files.createTempDirectory(s"topk_$i").toString
      SketchStore.saveTopK(b.toDF("item"), col("item"), cap, d)
      d
    }
    val merged = SketchStore.mergeTopK(spark, dirs, k = 8).toMap
    val slack = stream.size.toLong / cap // Σn/capacity across artifacts
    // SpaceSaving guarantees: estimates never undercount, overcount ≤ slack
    merged.foreach { case (item, est) =>
      val t = exact.getOrElse(item, 0L)
      assert(est >= t && est - t <= slack, s"$item: est $est true $t slack $slack")
    }
    // every item whose true count clears the summed threshold by the
    // eviction slack must survive the merge
    val mustKeep = exact.filter { case (_, c) => c > 2 * slack }.keySet
    val kept = SketchStore.mergeTopK(spark, dirs, k = cap).map(_._1).toSet
    mustKeep.foreach(i => assert(kept.contains(i), s"lost heavy item $i"))
    // capacity mismatch is a build error, not a silent bound violation
    val dBad = Files.createTempDirectory("topk_bad").toString
    SketchStore.saveTopK(batches.head.toDF("item"), col("item"), cap * 2, dBad)
    intercept[IllegalArgumentException] {
      SketchStore.mergeTopK(spark, dirs :+ dBad, k = 8)
    }
  }

  test("sketch store: CMS artifacts merge losslessly; estimates never undercount, stay in the eps band") {
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf)
      .select(date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("user_id").cast("string").as("item"))
    val dir = Files.createTempDirectory("cms_days").toString + "/c"
    SketchStore.saveCmsGrouped(ev, col("day"), col("item"), dir)
    val rangePred = col("grp") <= "2024-01-10"
    val inRange = ev.filter(col("day") <= "2024-01-10")
      .select("item").as[String].collect().toSeq
    val exact = inRange.groupBy(identity).view.mapValues(_.size.toLong).toMap
    // probe EVERY user in the corpus — including ones absent from the
    // range (true count 0) and ones far below any heavy-hitter cutoff
    val probes = ev.select("item").distinct().as[String].collect().toSeq.sorted
    val (ests, n) = SketchStore.cmsEstimates(spark, dir, rangePred, probes)
    assert(n == inRange.size, s"range n $n != ${inRange.size}")
    val eps = 0.0005
    val band = math.ceil(eps * n).toLong
    ests.foreach { case (item, est) =>
      val t = exact.getOrElse(item, 0L)
      assert(est >= t, s"$item: CMS undercounted $est < $t")
      assert(est - t <= band, s"$item: overcount ${est - t} > eps*N $band")
    }
    // merged day sketches ≡ one direct sketch over the range: cell-wise
    // addition under identical hashes is LOSSLESS, so every point
    // estimate matches the direct build exactly
    val directDir = Files.createTempDirectory("cms_direct").toString + "/c"
    SketchStore.saveCmsGrouped(
      ev.filter(col("day") <= "2024-01-10").withColumn("one", lit("all")),
      col("one"), col("item"), directDir)
    val (direct, _) = SketchStore.cmsEstimates(spark, directDir,
      col("grp") === "all", probes)
    assert(ests == direct, "merged day sketches diverged from the direct build")
    // mixed parameterizations fail loudly — the cells don't line up
    val dBad = Files.createTempDirectory("cms_bad").toString + "/c"
    SketchStore.saveCmsGrouped(ev, col("day"), col("item"), dBad, eps = 0.01)
    intercept[IllegalArgumentException] {
      val rows = spark.read.parquet(dir).unionByName(spark.read.parquet(dBad))
      val mixDir = Files.createTempDirectory("cms_mix").toString + "/c"
      rows.write.mode("overwrite").partitionBy("grp").parquet(mixDir)
      SketchStore.cmsEstimates(spark, mixDir, lit(true), probes.take(1))
    }
    // and the registered q87 emits a row per probe with the range total
    val q87 = ScaleQueries.q87CmsFreq(spark, TestSpark.Sf)
      .as[(Long, Long, Long)].collect()
    assert(q87.nonEmpty && q87.forall(_._3 == n),
      "q87 range_n diverged from the artifact item count")
    q87.foreach { case (uid, est, _) =>
      val t = exact.getOrElse(uid.toString, 0L)
      assert(est >= t && est - t <= band, s"q87 user $uid: est $est true $t")
    }
  }

  test("cell-grid CMS: decrement ≡ rebuild, merge lossless, CU sandwich") {
    import graft.sources.SketchStore
    val ev = Tables.events(spark, TestSpark.Sf).select("user_id")
    val retained = ev.filter(col("user_id") % 13 =!= 0)
    // THE property the representation exists for: folding a weight −1
    // grid over the forgotten slice into the full-history grid is
    // bit-identical to rebuilding over the retained events
    val decremented = SketchStore.cmsCellsMerge(
        SketchStore.cmsCells(ev, col("user_id")),
        SketchStore.cmsCells(ev.filter(col("user_id") % 13 === 0),
          col("user_id"), lit(-1L)))
      .as[(Int, Long, Long)].collect().toSet
    val rebuilt = SketchStore.cmsCells(retained, col("user_id"))
      .as[(Int, Long, Long)].collect().toSet
    assert(decremented == rebuilt, "decremented grid != rebuilt grid")
    // linearity also covers the merge-of-parts contract
    val parts = (0 until 3).map(i =>
      SketchStore.cmsCells(
        retained.filter(pmod(xxhash64(col("user_id")), lit(3)) === i),
        col("user_id")))
    val merged = SketchStore.cmsCellsMerge(parts: _*)
      .as[(Int, Long, Long)].collect().toSet
    assert(merged == rebuilt, "merged part grids != direct grid")
    // estimates: never undercount, and the standard/CU/exact sandwich
    val exact = retained.groupBy("user_id").count()
      .as[(Long, Long)].collect().toMap
    val probes = ev.distinct()
    val std = SketchStore.cmsCellEstimates(probes, col("user_id"),
        SketchStore.cmsCells(retained, col("user_id")))
      .as[(String, Long)].collect().toMap
    val items = retained.as[Long].collect().map(_.toString).toSeq.sorted
    val cu = SketchStore.cmsCuEstimates(items, std.keys.toSeq)
    std.foreach { case (it, est) =>
      val t = exact.getOrElse(it.toLong, 0L)
      assert(est >= t, s"user $it: grid undercounted $est < $t")
      assert(cu(it) >= t, s"user $it: CU undercounted ${cu(it)} < $t")
      assert(cu(it) <= est,
        s"user $it: CU ${cu(it)} above the standard grid $est — " +
          "conservative update must only tighten")
    }
    // and the registered q88 carries the same contract end to end
    val q88 = ScaleQueries.q88CmsCdc(spark, TestSpark.Sf)
      .as[(Long, Long, Long, Long)].collect()
    assert(q88.nonEmpty)
    q88.foreach { case (uid, ex, est, over) =>
      assert(ex == exact.getOrElse(uid, 0L) && est >= ex && over == est - ex,
        s"q88 row ($uid, $ex, $est, $over) inconsistent")
    }
  }

  test("sketch store: winsorize report from stored histograms equals the raw-frame q57") {
    import graft.sources.SketchStore
    val li = Tables.lineitem(spark, TestSpark.Sf)
      .select(col("l_returnflag"), col("l_extendedprice"))
    val parts = (0 until 3).map(i =>
      li.filter(pmod(xxhash64(col("l_extendedprice")), lit(3)) === i))
    val dirs = parts.zipWithIndex.map { case (p, i) =>
      val d = Files.createTempDirectory(s"winz_$i").toString
      SketchStore.saveHistogram(p, Seq("l_returnflag"), col("l_extendedprice"),
        valPow = 2, dir = d)
      d
    }
    val merged = SketchStore.mergeHistograms(spark, dirs, Seq("l_returnflag"))
    val got = SketchStore.winsorizeFromHistogram(merged, Seq("l_returnflag"),
        valPow = 2, outPow = 4, loNum = 1, hiNum = 19, den = 20)
      .orderBy("l_returnflag")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    // the consumer never touches the corpus — yet must reproduce the
    // full-scan q57 report bit-for-bit (bands, clip counts, sums)
    val want = AnalyticsQueries.q57Winsorize(spark, TestSpark.Sf)
      .orderBy("l_returnflag")
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(want.nonEmpty && got == want, s"got=$got\nwant=$want")
  }

  test("writeShards: manifest certifies the written shards; re-export is idempotent") {
    val dir = Files.createTempDirectory("graft_shards").toString + "/corpus"
    val withText = TrainingDataQueries.t39ShardPlan(spark, TestSpark.Sf)
      .join(Tables.documents(spark, TestSpark.Sf).select("doc_id", "text"),
        Seq("doc_id"))
    val (nShards, nDocs) = Writers.writeShards(withText, dir)
    assert(nShards > 1 && nDocs == 500L, s"($nShards, $nDocs)")
    // a plain read sees the data, not the manifest ("_"-prefixed)
    val back = spark.read.parquet(dir)
    assert(back.count() == nDocs)
    assert(back.select("shard").distinct().as[Long].collect().sorted.toSeq
      == (0L until nShards), "shard ids not contiguous from 0")
    // the manifest matches an independent local recount + digest chain
    val rows = back.select("shard", "seq", "n_tok", "text")
      .as[(Long, Long, Long, String)].collect()
    def md5hex(b: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(b)
        .map("%02x".format(_)).mkString
    val want = rows.groupBy(_._1).map { case (s, rs) =>
      val chain = rs.sortBy(_._2).map(r => md5hex(r._4.getBytes("UTF-8")))
        .mkString("")
      (s, rs.length.toLong, rs.map(_._3).sum,
        md5hex(chain.getBytes("UTF-8")))
    }.toSet
    def manifest() = spark.read.parquet(s"$dir/_manifest")
      .select("shard", "n_docs", "n_tokens", "content_md5")
      .as[(Long, Long, Long, String)].collect().toSet
    val mf = manifest()
    assert(mf == want, "manifest diverged from the local recount/digest")
    // every shard's START obeys the budget cut (docs whole, ~1024
    // tokens per shard): the plan's rule replayed on the manifest
    val cum = mf.toSeq.sortBy(_._1).map(_._3).scanLeft(0L)(_ + _)
    mf.toSeq.sortBy(_._1).zip(cum).foreach { case ((s, _, _, _), start) =>
      assert(start / 1024L == s, s"shard $s starts at token $start")
    }
    // re-export: same artifact, same manifest (idempotent swap)
    assert(Writers.writeShards(withText, dir) == ((nShards, nDocs)))
    assert(manifest() == mf, "re-export changed the manifest")
  }

  /** Spark jobs `body` starts, counted by a listener after a bus drain. */
  private def jobsIn(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graft.TestBridge
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    TestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try { body; TestBridge.drainListenerBus(sc); jobs.get }
    finally sc.removeSparkListener(listener)
  }

  test("Readers.parquet: a warm read runs no job; a schema-less read runs its footer job") {
    val dir = Files.createTempDirectory("graft_rd_warm").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "s").write.parquet(s"$dir/t")
    val cold = Readers.parquet(spark, s"$dir/t")
    assert(jobsIn(spark.read.parquet(s"$dir/t")) >= 1,
      "the counter must see the footer job of a schema-less read")
    assert(jobsIn(Readers.parquet(spark, s"$dir/t")) == 0)
    assert(Readers.parquet(spark, s"$dir/t").collect().toSeq == cold.collect().toSeq)
  }

  test("Readers.parquet sees a column added in place within the session, with no clear call") {
    val dir = Files.createTempDirectory("graft_rd_addcol").toString
    // a directory table overwritten by Spark (new part-file names)
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t")
    Readers.parquet(spark, s"$dir/t"); Readers.parquet(spark, s"$dir/t")
    Seq((1L, "a", 7L)).toDF("id", "s", "extra").write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/t")
    val dirRead = Readers.parquet(spark, s"$dir/t")
    assert(dirRead.columns.toSeq == Seq("id", "s", "extra"))
    assert(dirRead.as[(Long, String, Long)].collect().toSeq == Seq((1L, "a", 7L)))
    // a single-file table (the testdata layout) replaced under the
    // same name, as a foreign writer does
    val file = java.nio.file.Paths.get(s"$dir/one.parquet")
    def writeFile(df: org.apache.spark.sql.DataFrame, tag: String): Unit = {
      df.coalesce(1).write.parquet(s"$dir/$tag")
      val part = new java.io.File(s"$dir/$tag").listFiles.find(_.getName.endsWith(".parquet")).get
      Files.move(part.toPath, file, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    writeFile(Seq((1L, "a")).toDF("id", "s"), "v1")
    Readers.parquet(spark, file.toString); Readers.parquet(spark, file.toString)
    writeFile(Seq((1L, "a", 7L)).toDF("id", "s", "extra"), "v2")
    val fileRead = Readers.parquet(spark, file.toString)
    assert(fileRead.columns.toSeq == Seq("id", "s", "extra"))
    assert(fileRead.as[(Long, String, Long)].collect().toSeq == Seq((1L, "a", 7L)))
  }

  test("Readers.parquet fails as spark.read.parquet does, on every call") {
    val dir = Files.createTempDirectory("graft_rd_fail").toString
    def sameFailure(path: String): Unit = {
      val want = intercept[Exception](spark.read.parquet(path))
      for (_ <- 1 to 2) {
        val got = intercept[Exception](Readers.parquet(spark, path))
        assert(got.getClass == want.getClass && got.getMessage == want.getMessage,
          s"$path: got $got, want $want")
      }
    }
    sameFailure(s"$dir/missing")
    new java.io.File(s"$dir/empty").mkdirs()
    new java.io.File(s"$dir/empty/_SUCCESS").createNewFile()
    sameFailure(s"$dir/empty")
    // a table read once, then emptied to its _SUCCESS: the memoized
    // schema must not turn the failure into an empty frame
    Seq((1L, "a")).toDF("id", "s").write.parquet(s"$dir/t")
    Readers.parquet(spark, s"$dir/t"); Readers.parquet(spark, s"$dir/t")
    new java.io.File(s"$dir/t").listFiles.filter(_.getName.endsWith(".parquet"))
      .foreach(_.delete())
    sameFailure(s"$dir/t")
    // and once deleted outright
    val t = new org.apache.hadoop.fs.Path(s"$dir/t")
    t.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(t, true)
    sameFailure(s"$dir/t")
  }

  test("Readers.parquet's schema memo never holds more entries than its capacity") {
    val dir = Files.createTempDirectory("graft_rd_cap").toString
    Seq((1L, "a")).toDF("id", "s").coalesce(1).write.parquet(s"$dir/src")
    val part = new java.io.File(s"$dir/src").listFiles.find(_.getName.endsWith(".parquet")).get
    val cap = Readers.SchemaMemoCapacity
    for (i <- 0 until cap + 8) {
      val f = java.nio.file.Paths.get(s"$dir/t$i.parquet")
      Files.copy(part.toPath, f)
      assert(Readers.parquet(spark, f.toString).count() == 1)
      assert(Readers.schemaMemoSize <= cap, s"memo holds ${Readers.schemaMemoSize} > $cap")
    }
    assert(Readers.schemaMemoSize == cap)
  }

  test("src/main has no schema-less parquet read outside Readers (source guard)") {
    // every schema-less parquet read goes through Readers.parquet, the
    // one that infers a schema once per file snapshot
    val schemaLess = """\.read\s*\.(parquet\(|format\("parquet"\))""".r
    val files = {
      val it = Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try it.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally it.close()
    }
    assert(files.nonEmpty)
    val offenders = files.filterNot(_.getFileName.toString == "Readers.scala").filter { f =>
      schemaLess.findFirstIn(new String(Files.readAllBytes(f),
        java.nio.charset.StandardCharsets.UTF_8)).isDefined
    }
    assert(offenders.isEmpty, s"schema-less parquet reads in ${offenders.mkString(", ")}")
  }
}
