package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-data table registry (see /root/repo/TESTDATA.md).
  *
  * At 100 TB the same call sites read a partitioned table root instead of a
  * single file; nothing downstream depends on file layout because everything
  * consumes the returned DataFrame (Catalyst prunes partitions/columns).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Normalise the `events.ts` column to session TimestampType regardless of
    * its physical parquet representation, so every downstream operator sees
    * one timestamp type. Three representations occur in practice:
    *
    *  - TIMESTAMP(NANOS): Spark has no native type; with
    *    `spark.sql.legacy.parquet.nanosAsLong=true` it arrives as a
    *    nanos-since-epoch LONG and is converted here (integer `div` — a
    *    double division would lose precision above 2^53 ns);
    *  - `timestamp[us]` with isAdjustedToUTC=false: arrives as
    *    TIMESTAMP_NTZ and is cast to TimestampType — the session timezone is
    *    pinned to UTC by every entrypoint, so the instant is deterministic;
    *  - UTC-adjusted `timestamp[us]`: already TimestampType, passthrough.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Schema-inference cache (r18): a bare `read.parquet(path)` infers
    // the schema by opening the file footer on EVERY call — a
    // driver-side metadata read repeated thousands of times across a
    // bench run (393 queries × tables × reps) and once per query in
    // production. The inferred schema of an immutable test-data path
    // cannot change within a session, so it is cached per (session,
    // path) and passed explicitly; inference (and its conf
    // sensitivity, e.g. nanosAsLong) still happens once per session,
    // so the cached schema is exactly what inference would return.
    val path = s"$dir/$name.parquet"
    val sch = schemaCache.getOrElseUpdate((spark, path),
      spark.read.parquet(path).schema)
    normalizeTs(spark.read.schema(sch).parquet(path))
  }

  private val schemaCache = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), org.apache.spark.sql.types.StructType]

  /** Fan a scan out to the session's parallelism WHEN THE FILE LAYOUT
    * CANNOT: a single-row-group parquet file is one indivisible split, so
    * the whole pre-exchange pipeline — decode, projections, expand,
    * partial aggregation — runs on one core while the rest idle (the
    * "one huge unsplittable file" input-skew case; fix: repartition
    * immediately after the read). Scale-adaptive, not a local constant:
    * the exchange is added ONLY when the planned scan has fewer than
    * half `defaultParallelism` partitions — at production file counts
    * the scan already fans out and this is the identity. Round-robin
    * repartition is deterministic under retries (sortBeforeRepartition
    * stays on), and every consumer is partitioning-invariant by the
    * engine's exact-arithmetic contract, so results are unchanged.
    * Apply to COMPUTE-HEAVY consumers only: for a short scan-and-go
    * query the extra exchange costs more than the idle cores. */
  def fanOut(df: DataFrame): DataFrame = {
    val sess = df.sparkSession
    val n = sess.sparkContext.defaultParallelism
    // Round-robin repartition is only safe against task retries while
    // sortBeforeRepartition holds. GraftSession sets it (Spark's default
    // too); a session that turned it off is refused, not changed.
    require(sess.conf.get(SortBeforeRepartition).toBoolean,
      s"fanOut needs $SortBeforeRepartition=true: round-robin repartition " +
        "is deterministic under task retries only with it")
    // The probe (`df.rdd.getNumPartitions`) forces full physical
    // planning of the scan — double planning per CALL, growing with
    // file count at scale (r17 advice). The planned split count of a
    // file scan depends only on the file set and session confs, so the
    // probe is cached per (session, scan root paths); non-file plans
    // (shouldn't occur at the call sites, which all wrap Tables.load)
    // fall back to the uncached probe.
    val planned = scanRoots(df) match {
      case Some(key) =>
        fanOutProbe.getOrElseUpdate((sess, key), df.rdd.getNumPartitions)
      case None => df.rdd.getNumPartitions
    }
    if (planned * 2 < n) df.repartition(n) else df
  }

  val SortBeforeRepartition = "spark.sql.execution.sortBeforeRepartition"

  private val fanOutProbe =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]

  /** Root paths of the single file-source scan feeding `df`, if any. */
  private def scanRoots(df: DataFrame): Option[String] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val leaves = df.queryExecution.analyzed.collect {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation => Some(fs.location.rootPaths.mkString(","))
        case _ => None
      }
    }
    leaves match {
      case Seq(Some(one)) => Some(one)
      case _ => None
    }
  }

  /** Exposed separately so callers holding an events-shaped frame from any
    * source (not just parquet) can apply the same timestamp contract. */
  def normalizeTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema.fields.find(_.name == "ts") match {
      case Some(f) if f.dataType == LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .expr("timestamp_micros(ts div 1000)"))
      case Some(f) if f.dataType == TimestampNTZType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** Register every table as a temp view so SQL-form queries and the
    * DataFrame-form queries resolve the same relations. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
