package graft.sources

import org.apache.spark.sql.DataFrame

import graft.plant.PlantData
import graft.schema.PlantSchemas

/** Export sinks (reference: PlantData.to_csv, plant.py:746-843) plus the
  * scale-path parquet layouts the 100 TB design assumes.
  */
object Sinks {

  /** CSV export with header, one directory per bucket (reference to_csv). */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** Full-plant export: every loaded bucket as a CSV directory plus a
    * `metadata.json` that [[Ingest.loadPlant]] accepts back — the reference
    * writes the same bucket CSVs + metadata YAML pair (plant.py:746-843).
    * Exported columns are already canonical, so the column maps are
    * identity over each bucket's canonical fields; frequencies round-trip
    * through the pandas-style alias vocabulary.
    */
  def writePlant(plant: PlantData, dir: String): Unit = {
    def bucketCsv(name: String, df: DataFrame): Unit = writeCsv(df, s"$dir/$name")
    plant.scada.foreach(bucketCsv("scada", _))
    plant.meter.foreach(bucketCsv("meter", _))
    plant.tower.foreach(bucketCsv("tower", _))
    plant.status.foreach(bucketCsv("status", _))
    plant.curtail.foreach(bucketCsv("curtail", _))
    plant.asset.foreach(bucketCsv("asset", _))
    plant.reanalysis.foreach { case (p, df) => bucketCsv(s"reanalysis_$p", df) }

    val freqName: Map[Long, String] =
      Map(600L -> "10min", 300L -> "5min", 60L -> "min", 3600L -> "h",
        86400L -> "D", 604800L -> "W", 2592000L -> "MS")
    def identityMap(bucket: String, df: DataFrame, freqS: Option[Long]): String = {
      val canonical = PlantSchemas.bucketSchemas.get(bucket)
        .map(_.fieldNames.toSet).getOrElse(df.columns.toSet)
      val pairs = df.columns.filter(canonical)
        .map(c => s"""    "$c": "$c"""")
      val freq = freqS.flatMap(freqName.get)
        .map(f => s"""    "frequency": "$f"""").toSeq
      (pairs ++ freq).mkString("{\n", ",\n", "\n  }")
    }
    val m = plant.metadata
    val sections = Seq(
      plant.scada.map(df => "scada" -> identityMap("scada", df, Some(m.scadaFreqSeconds))),
      plant.meter.map(df => "meter" -> identityMap("meter", df, Some(m.meterFreqSeconds))),
      plant.tower.map(df => "tower" -> identityMap("tower", df, None)),
      plant.status.map(df => "status" -> identityMap("status", df, None)),
      plant.curtail.map(df => "curtail" -> identityMap("curtail", df, Some(m.curtailFreqSeconds))),
      plant.asset.map(df => "asset" -> identityMap("asset", df, None))).flatten
    val rea = plant.reanalysis.map { case (p, df) =>
      s""""$p": ${identityMap("reanalysis", df, Some(m.reanalysisFreqSeconds))}"""
    }.mkString("{\n  ", ",\n  ", "\n  }")
    val json = (Seq(
      s""""latitude": 0.0""",
      s""""longitude": 0.0""",
      s""""capacity": ${m.capacityKw / 1000.0}""") ++
      sections.map { case (k, v) => s""""$k": $v""" } :+
      s""""reanalysis": $rea""").mkString("{\n  ", ",\n  ", "\n}")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/metadata.json"), json)
  }

  /** The preferred internal layout: parquet partitioned by a low-cardinality
    * date column (partition pruning on time-range queries) and bucketed by
    * asset so per-asset windows and asset-equi joins avoid a shuffle.
    * Bucketing requires saveAsTable (the metastore records the layout).
    */
  def writeBucketedTable(df: DataFrame, table: String, partitionCol: String,
                         bucketCol: String, numBuckets: Int = 64,
                         sortCol: String = "time"): Unit =
    df.write.mode("overwrite")
      .partitionBy(partitionCol)
      .bucketBy(numBuckets, bucketCol)
      .sortBy(sortCol)
      .format("parquet")
      .saveAsTable(table)

  /** Size-balanced shard writer — the training-data export path. A 100 TB
    * job that writes one file per upstream task emits either thousands of
    * KB-sized files (small partitions) or unsplittable multi-GB ones
    * (skewed partitions); downstream loaders want shards of a target size
    * with disjoint, sorted key ranges (resumable, seekable, shuffle-free to
    * re-read in order).
    *
    * Shard count comes from the optimizer's size ESTIMATE (same rationale
    * as [[graft.operators.FanOut]]: probing df.rdd under AQE runs throwaway
    * jobs); repartitionByRange samples the sort key to cut equal-ROW ranges,
    * which for roughly uniform row widths approximates equal bytes.
    * Returns the shard count.
    */
  def writeSharded(df: DataFrame, path: String, orderCol: String,
                   targetShardBytes: Long = 256L * 1024 * 1024): Int = {
    import org.apache.spark.sql.functions.col
    require(targetShardBytes > 0, s"bad targetShardBytes $targetShardBytes")
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val shards = ((estBytes + targetShardBytes - 1) / targetShardBytes)
      .max(1).min(1 << 20).toInt
    df.repartitionByRange(shards, col(orderCol))
      .sortWithinPartitions(orderCol)
      .write.mode("overwrite").parquet(path)
    shards
  }

  /** Epoch-shuffled training shards: the materialization of
    * [[graft.operators.Sampling.epochShuffleKey]]'s documented 100-TB
    * pattern — shard = md5-bucket of the per-epoch key, rows sorted by the
    * key WITHIN each shard, so (shard, position) is a deterministic total
    * order for the epoch with no global sort: one hash shuffle into
    * `nShards` partitions + a partition-local sort, identical on rerun.
    * Readers stream shard files in name order to replay the epoch.
    */
  def writeEpochShards(df: DataFrame, path: String, idCol: String,
                       epoch: Int, nShards: Int, seed: Long = 0L): Unit = {
    import org.apache.spark.sql.functions.col
    require(nShards > 0, s"bad nShards $nShards")
    val keyed = df.withColumn("__ek",
      graft.operators.Sampling.epochShuffleKey(col(idCol), epoch, seed))
    keyed
      .withColumn("__shard",
        graft.operators.Sampling.hashBucket(col("__ek"), nShards))
      .repartition(nShards, col("__shard"))
      .sortWithinPartitions("__shard", "__ek")
      .write.mode("overwrite").partitionBy("__shard").parquet(path)
  }

  /** [[writeSharded]] ordered by the Z-order (Morton) interleave of
    * `zCols`: every shard's parquet min/max stats then bound EVERY listed
    * dimension, so multi-predicate range scans prune files (a 1-D sort
    * leaves all other dimensions unpruned). The `zorder` key column is
    * dropped from the written data.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
                    targetShardBytes: Long = 256L * 1024 * 1024,
                    bits: Int = 16): Int = {
    import org.apache.spark.sql.functions.col
    val z = graft.functions.ZOrder.withZOrder(df, zCols, bits)
    val estBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val shards = ((estBytes + targetShardBytes - 1) / targetShardBytes)
      .max(1).min(1 << 20).toInt
    z.repartitionByRange(shards, col("zorder"))
      .sortWithinPartitions("zorder")
      .drop("zorder")
      .write.mode("overwrite").parquet(path)
    shards
  }

  /** ORC sink — Spark's other built-in columnar format, for exchanges with
    * Hive-era consumers. Same splittable/columnar contracts as parquet:
    * column pruning via the reader's ReadSchema, predicate pushdown via ORC
    * search arguments (IngestSpec pins PushedFilters on the round-trip).
    */
  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  /** JSONL (newline-delimited JSON) sink with optional gzip — the lingua
    * franca of dataset releases (HF datasets, Dolma, RedPajama all ship
    * it). One JSON object per line via Spark's json writer; pair with
    * [[graft.sources.Ingest]]'s JSONL reader (corrupt-line capture) for
    * the round trip. Compression note: gzip is NOT splittable — release
    * shards should stay ~100s of MB so a reader gets one task per file
    * (the WARC lesson); `None` leaves plain text.
    */
  def writeJsonl(df: DataFrame, path: String,
                 codec: Option[String] = Some("gzip")): Unit = {
    val w = df.write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).json(path)
  }
}
