package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Hardening against testdata timestamp-encoding drift: the driver
  * regenerated `events.ts` once (TIMESTAMP(NANOS) → timestamp[us] NTZ)
  * and silently broke three operators; it will regenerate again. This
  * spec clones the sf0.001 testdata three times with `events.ts` in
  * each plausible encoding and asserts `Tables.events` normalizes all
  * of them to the same TimestampType instants — proven by running the
  * actual session kernel (q20) on each clone and requiring identical
  * output, not just successful analysis.
  */
class TablesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Full testdata clone with events re-encoded by `reEncode`. */
  private def encodedDir(tag: String)(reEncode: DataFrame => DataFrame): String = {
    val dir = Files.createTempDirectory(s"graft-tables-$tag").toString
    Tables.names.filterNot(_ == "events").foreach { n =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$n.parquet"), Paths.get(s"$dir/$n.parquet"))
    }
    val base = Tables.events(spark, TestSpark.Sf)
    reEncode(base).coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  // (a) epoch-nanos long — what TIMESTAMP(NANOS) parquet looks like
  //     under spark.sql.legacy.parquet.nanosAsLong=true
  private lazy val longDir = encodedDir("long")(
    _.withColumn("ts", unix_micros(col("ts")) * lit(1000L)))
  // (b) TIMESTAMP_NTZ — what the current driver-generated timestamp[us]
  //     (isAdjustedToUTC=false) reads as
  private lazy val ntzDir = encodedDir("ntz")(
    _.withColumn("ts", col("ts").cast(TimestampNTZType)))
  // (c) TIMESTAMP_LTZ — timestamp[us] adjusted to UTC
  private lazy val ltzDir = {
    val prev = spark.conf.getOption("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try encodedDir("ltz")(identity)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.parquet.outputTimestampType", v)
      case None    => spark.conf.unset("spark.sql.parquet.outputTimestampType")
    }
  }

  private lazy val all = Seq("nanos-long" -> longDir, "ntz" -> ntzDir, "ltz" -> ltzDir)

  test("Readers.parquet reads with spark.read.parquet's schema and plan: the ten tables, an ANN cells directory, a partition column its files store and every ts encoding") {
    import graft.sources.Readers
    val annDir = Files.createTempDirectory("graft-tables-cells").toString
    graft.sim.AnnIndex.build(Tables.embeddings(spark, TestSpark.Sf).select(
        col("vec_id").as("id"),
        graft.functions.VectorFunctions.toDouble(col("embedding")).as("vec")),
      nCells = 23, seed = 42L, annDir)
    // a partition column its files also store, ahead of the data columns
    val overlap = Files.createTempDirectory("graft-tables-overlap").toString
    spark.range(3).select(lit(7L).as("day"), col("id"))
      .coalesce(1).write.parquet(s"$overlap/t/day=7")
    val paths = Tables.names.map(Tables.path(TestSpark.Sf, _)) ++
      Seq(s"$annDir/cells", s"$overlap/t") ++
      all.map { case (_, dir) => Tables.path(dir, "events") }
    paths.foreach { p =>
      val want = spark.read.parquet(p)
      // the first call may infer; the second serves the memoized schema
      Seq(Readers.parquet(spark, p), Readers.parquet(spark, p)).foreach { got =>
        assert(got.schema == want.schema, s"$p: ${got.schema} vs ${want.schema}")
        assert(got.queryExecution.optimizedPlan.canonicalized ==
          want.queryExecution.optimizedPlan.canonicalized,
          s"$p plans differ:\n${got.queryExecution.optimizedPlan}\n" +
            s"${want.queryExecution.optimizedPlan}")
      }
    }
    assert(spark.read.parquet(s"$annDir/cells").schema.fieldNames.last == "cell",
      "the cells directory is partitioned by cell")
  }

  test("Tables.events normalizes every ts encoding to TimestampType") {
    all.foreach { case (tag, dir) =>
      val dt = Tables.events(spark, dir).schema("ts").dataType
      assert(dt == TimestampType, s"encoding $tag → $dt")
    }
  }

  test("q20 sessionize is bit-identical across all three ts encodings") {
    val want = AnalyticsQueries.q20Sessionize(spark, TestSpark.Sf).collect().toSeq
    assert(want.nonEmpty)
    all.foreach { case (tag, dir) =>
      val got = AnalyticsQueries.q20Sessionize(spark, dir).collect().toSeq
      assert(got == want, s"encoding $tag diverged")
    }
  }

  test("orders/lineitem NTZ drift: timestamp columns normalize and consumers run") {
    // pandas writes isAdjustedToUTC=false by default — the SAME drift
    // class that broke events in round 6 can hit any regenerated table
    val dir = Files.createTempDirectory("graft-tables-ntzall").toString
    Tables.names.filterNot(Set("orders", "lineitem")).foreach { n =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$n.parquet"), Paths.get(s"$dir/$n.parquet"))
    }
    Tables.orders(spark, TestSpark.Sf)
      .withColumn("o_orderdate", org.apache.spark.sql.functions.col("o_orderdate").cast(TimestampNTZType))
      .coalesce(1).write.parquet(s"$dir/orders.parquet")
    Tables.lineitem(spark, TestSpark.Sf)
      .withColumn("l_shipdate", org.apache.spark.sql.functions.col("l_shipdate").cast(TimestampNTZType))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
    assert(Tables.orders(spark, dir).schema("o_orderdate").dataType == TimestampType)
    assert(Tables.lineitem(spark, dir).schema("l_shipdate").dataType == TimestampType)
    // the SCD2 family consumes both timestamp columns — execution
    // parity against the canonical encoding, not just analysis
    val want = CoreQueries.q69Scd2Temporal(spark, TestSpark.Sf).collect().toSeq
    val got = CoreQueries.q69Scd2Temporal(spark, dir).collect().toSeq
    assert(want.nonEmpty && got == want)
    // analysis sweep: every registered query still resolves against
    // the drifted testdata clone
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try { fn(spark, dir).queryExecution.optimizedPlan; None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage}") }
    }
    assert(failures.isEmpty, s"\n${failures.mkString("\n")}")
  }

  test("embeddings element-type drift: double[] regeneration still runs the ANN family") {
    // the embedding column is float[] today; a regenerated double[] (or
    // a reader defaulting wider) must not break the vector family —
    // every consumer goes through toDouble / explicit quantization
    val dir = Files.createTempDirectory("graft-tables-emb").toString
    Tables.names.filterNot(_ == "embeddings").foreach { n =>
      Files.copy(Paths.get(s"${TestSpark.Sf}/$n.parquet"), Paths.get(s"$dir/$n.parquet"))
    }
    Tables.embeddings(spark, TestSpark.Sf)
      .withColumn("embedding",
        org.apache.spark.sql.functions.col("embedding").cast("array<double>"))
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    // execution parity for the exact members of the family (the
    // float→double widening is value-exact, so results are identical)
    for (q <- Seq("s01_ann_bruteforce", "s11_mips", "s12_kmeans", "d05_embed_neardup")) {
      val want = SparkEntry.queries(q)(spark, TestSpark.Sf).collect().toSeq
      val got = SparkEntry.queries(q)(spark, dir).collect().toSeq
      assert(want.nonEmpty && got == want, s"$q diverged on double[] embeddings")
    }
  }

  test("every events-consuming headline query analyzes on each encoding") {
    val names = Seq("q19_asof_join", "q20_sessionize", "q21_distinct_count",
      "q37_range_join", "q59_transitions", "q65_rolling_distinct")
    all.foreach { case (tag, dir) =>
      names.foreach { n =>
        val fn = SparkEntry.queries(n)
        try fn(spark, dir).queryExecution.optimizedPlan
        catch { case e: Throwable =>
          fail(s"$n failed to analyze on $tag encoding: ${e.getMessage}")
        }
      }
    }
  }
}
