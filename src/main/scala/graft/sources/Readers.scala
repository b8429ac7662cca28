package graft.sources

import scala.util.Try

import org.apache.spark.sql.{DataFrame, DataFrameReader, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  PartitioningAwareFileIndex}
import org.apache.spark.sql.types.StructType

import graft.etl.Stages

/** Source readers mirroring the reference's extract stage
  * (dags/etl_grammy_spotify.py:38-67: CSV file + SQL table).
  *
  * Always pass an explicit schema for CSV at scale: schema inference
  * is a full extra pass over the data. Parquet/JDBC carry their own
  * schemas, but reading a parquet schema is a Spark job over the
  * footers: [[parquet]] runs it once per file snapshot.
  */
object Readers {

  /** CSV with explicit schema — no inference pass; malformed rows
    * yield nulls instead of failing the job (PERMISSIVE, the
    * `errors="coerce"` analog). To RETAIN the raw text of bad rows,
    * include a `StructField("_corrupt_record", StringType)` in the
    * schema — the option below routes the original line there. */
  def csv(spark: SparkSession, path: String, schema: StructType,
          header: Boolean = true, sep: String = ","): DataFrame =
    spark.read
      .schema(schema)
      .option("header", header.toString)
      .option("sep", sep)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .csv(path)

  /** Parquet without a schema: the one schema-less parquet read. A
    * plain `spark.read.parquet` runs a Spark job to read a footer on
    * every call; this one infers the schema once per (paths, the
    * session's values of the confs inference reads, file snapshot) and
    * then reads with `.schema(s)`, so a warm read runs no job. The
    * snapshot is the (path, length, mtime) of every file the read's own
    * file index lists (`_metadata`/`_common_metadata` included), so a
    * hit lists nothing extra, and a table rewritten in place is
    * re-inferred with no clear hook. The frame, schema and plan are
    * `spark.read.parquet`'s; the memo holds the raw file schema. A
    * failing read fails as `spark.read.parquet` does, on every call
    * (failures are never memoized). The memo is a fixed-size LRU:
    * state directories mint new paths on every pass.
    *
    * Blind spot, shared with the stage digest cache and
    * `Ann.corpusKey`: a foreign writer that rewrites a file in place at
    * equal length within one mtime tick keeps the snapshot. Spark's
    * own writes never do (their part-file names carry a per-write
    * UUID). */
  def parquet(spark: SparkSession, paths: String*): DataFrame = {
    val key = (paths.toVector, inferenceConfs(spark))
    Option(schemas.synchronized(schemas.get(key)))
      .flatMap { case (snap, schema) =>
        Try(spark.read.schema(schema).parquet(paths: _*)).toOption
          .filter(df => fileRelation(df).flatMap(snapshotHash).contains(snap))
      }
      .getOrElse {
        val df = spark.read.parquet(paths: _*)
        // memoize only a schema a `.schema(s)` read lays out the same
        // way: data columns, then partition columns (a file that also
        // stores a partition column keeps it at its file position)
        fileRelation(df)
          .filter(r => (r.dataSchema ++ r.partitionSchema) == r.schema.fields.toSeq)
          .flatMap(snapshotHash)
          .foreach(snap => schemas.synchronized(schemas.put(key, (snap, df.schema))))
        df
      }
  }

  /** Most (paths, confs) keys [[parquet]] remembers. */
  private[graft] val SchemaMemoCapacity = 256

  private type SchemaKey = (Vector[String], Vector[(String, String)])

  private val schemas = new java.util.LinkedHashMap[SchemaKey, (String, StructType)](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[SchemaKey, (String, StructType)]): Boolean =
      size() > SchemaMemoCapacity
  }

  private[graft] def schemaMemoSize: Int = schemas.synchronized(schemas.size())

  /** The session's values of the confs parquet schema inference reads. */
  private def inferenceConfs(spark: SparkSession): Vector[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
        k == "spark.sql.sources.partitionColumnTypeInference.enabled" ||
        k == "spark.sql.caseSensitive" || k == "spark.sql.files.ignoreCorruptFiles"
    }.toVector.sorted

  private def fileRelation(df: DataFrame): Option[HadoopFsRelation] =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
        l.relation.asInstanceOf[HadoopFsRelation]
    }

  /** The hashed file snapshot of the listing `r`'s file index made. */
  private def snapshotHash(r: HadoopFsRelation): Option[String] = r.location match {
    case idx: PartitioningAwareFileIndex =>
      Some(Stages.snapshotHash(idx.allFiles().map(st =>
        (st.getPath.toString, st.getLen, st.getModificationTime))))
    case _ => None
  }

  /** ORC — the other columnar format Spark ships natively; same
    * pushdown/pruning behavior as parquet (PushedFilters + ReadSchema
    * reach the scan). */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Raw-file ingestion for multimodal corpora: each file becomes one
    * row (path, modificationTime, length, content BINARY) — the
    * entry point that feeds `multimodal.Binary`'s typed-metadata +
    * opaque-bytes model. `pathGlobFilter` prunes by extension at the
    * listing, BEFORE any byte is read; at 100 TB pair this with a
    * manifest-driven file list instead of a directory walk. */
  def binaryFiles(spark: SparkSession, path: String,
                  globFilter: Option[String] = None): DataFrame = {
    val base = spark.read.format("binaryFile")
    globFilter.fold(base)(g => base.option("pathGlobFilter", g)).load(path)
  }

  def json(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** XML with explicit schema — Spark 4's NATIVE XML source (the
    * donated spark-xml path): `rowTag` names the repeating record
    * element; attributes surface as `_attr` fields; like CSV, an
    * explicit schema skips the inference pass and PERMISSIVE mode
    * coerces malformed records to nulls instead of failing the job.
    * The B2B-feed format every warehouse still ingests somewhere. */
  def xml(spark: SparkSession, path: String, schema: StructType,
          rowTag: String): DataFrame =
    spark.read
      .schema(schema)
      .option("rowTag", rowTag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .format("xml")
      .load(path)

  /** JDBC reader builder (the `pd.read_sql` analog). `numPartitions` +
    * bound columns give parallel partitioned reads — a single-threaded
    * JDBC scan is the #1 ingest bottleneck at scale. Fired end-to-end
    * against embedded Derby in SourcesSpec (the one JDBC engine on the
    * classpath); the same options drive MySQL/Postgres in production. */
  def jdbc(spark: SparkSession, url: String, table: String,
           partitionColumn: Option[(String, Long, Long, Int)] = None,
           props: Map[String, String] = Map.empty): DataFrameReader = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withPart = partitionColumn match {
      case Some((colName, lower, upper, n)) => base
        .option("partitionColumn", colName)
        .option("lowerBound", lower.toString)
        .option("upperBound", upper.toString)
        .option("numPartitions", n.toString)
      case None => base
    }
    props.foldLeft(withPart) { case (r, (k, v)) => r.option(k, v) }
  }
}
