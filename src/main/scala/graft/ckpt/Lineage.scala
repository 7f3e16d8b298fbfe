package graft.ckpt

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Resumable stage checkpointing with per-partition lineage (generalizes the
  * reference's skip-if-output-exists restart behavior, downloadways.js:86-105,
  * per the north_rule: "every stage checkpoints per-partition lineage + row
  * counts so a killed job resumes without recompute").
  *
  * No Iceberg jar ships in this environment (SURVEY §7.0), so the table layer
  * is Parquet + an atomically-renamed JSON manifest holding the output schema
  * and per-partition row counts and content hashes. A stage is skipped iff
  * its manifest is valid and the input fingerprint matches; otherwise it
  * recomputes and atomically replaces output + manifest (write-to-temp, rename).
  */
object Lineage {

  case class PartStat(partition: Long, rows: Long, contentHash: Long)

  /** per-partition row count + order-insensitive xor of `xxhash64` over the
    * row (columns in `df`'s order), in one map-only job: no exchange, no
    * aggregate. Xor is associative and overflow-free (ANSI-safe), so the xor
    * over all partitions equals a global `bit_xor(xxhash64(...))` whatever
    * the partition layout; empty partitions contribute (0 rows, 0). */
  def partStats(df: DataFrame): Array[PartStat] =
    df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*)).queryExecution.toRdd
      .mapPartitionsWithIndex { (p, rows) =>
        var n = 0L
        var h = 0L
        while (rows.hasNext) { h ^= rows.next().getLong(0); n += 1 }
        Iterator.single(PartStat(p, n, h))
      }.collect()

  /** (total rows, xor of the per-partition hashes): partition-layout independent. */
  private def totals(stats: Seq[PartStat]): (Long, Long) =
    (stats.map(_.rows).sum, stats.foldLeft(0L)(_ ^ _.contentHash))

  /** order-insensitive fingerprint of an input DataFrame: xor of 64-bit row
    * hashes over the sorted columns (= global `bit_xor(xxhash64(sorted cols))`,
    * 0 for an empty input) — collision-safe enough for resume decisions. */
  def fingerprint(df: DataFrame): Long =
    totals(partStats(df.select(df.columns.sorted.map(col).toIndexedSeq: _*)))._2

  private def manifestPath(dir: String) = Paths.get(dir, "_lineage_manifest.json")

  private def writeManifest(dir: String, inputFingerprint: Long, schema: StructType,
                            stats: Array[PartStat]): Unit = {
    val parts = stats.sortBy(_.partition).map(s =>
      s"""{"p":${s.partition},"rows":${s.rows},"hash":${s.contentHash}}""").mkString(",")
    val json = s"""{"input_fingerprint":$inputFingerprint,"schema":${schema.json},"partitions":[$parts]}"""
    val tmp = Paths.get(dir, "._lineage_manifest.json.tmp")
    Files.createDirectories(Paths.get(dir))
    Files.writeString(tmp, json)
    Files.move(tmp, manifestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private case class Manifest(inputFingerprint: Long, schema: StructType, totals: (Long, Long))

  /** the manifest, parsed once; None when it is absent, malformed or records
    * no schema (the data could then only be read by inferring one). */
  private def readManifest(dir: String): Option[Manifest] = Try {
    val m = new ObjectMapper().readTree(manifestPath(dir).toFile)
    val parts = m.get("partitions").elements.asScala.map(p =>
      PartStat(p.get("p").asLong, p.get("rows").asLong, p.get("hash").asLong)).toSeq
    Manifest(m.get("input_fingerprint").asLong,
      DataType.fromJson(m.get("schema").toString).asInstanceOf[StructType], totals(parts))
  }.toOption

  /** Run `stage` and persist to `outDir` unless a valid checkpoint for the
    * same input fingerprint already exists; returns the (possibly reloaded)
    * output. This is the resume path: a killed job re-invokes materialize
    * and every finished stage short-circuits to a parquet read.
    *
    * Job budget: 2 map-only bookkeeping jobs beyond the stage's own, whether
    * committing or resuming (plus any shuffles in the input's own plan) — the
    * input fingerprint and one `partStats` pass, over the read-back on commit
    * (so the manifest describes the bytes on disk) or over the stored data on
    * resume. Both reads use the recorded schema: no inference job, and the
    * validated DataFrame is the one returned.
    *
    * Crash safety: the manifest is DELETED before the data rewrite starts —
    * a job killed mid-overwrite leaves data without a manifest, which can
    * only recompute, never serve the torn files. The skip path re-validates
    * the stored parquet against the manifest's row count and xor-of-hashes
    * (partition-layout independent), so a manifest that survived alongside
    * corrupted/foreign data, or data unreadable with the recorded schema, is
    * detected and recomputed too. */
  def materialize(spark: SparkSession, outDir: String, input: DataFrame,
                  stage: DataFrame => DataFrame): DataFrame = {
    val fp = fingerprint(input)
    val data = s"$outDir/data"
    val served = readManifest(outDir).filter(_.inputFingerprint == fp).flatMap { m =>
      Try {
        val stored = spark.read.schema(m.schema).parquet(data)
        (stored, totals(partStats(stored)))
      }.toOption.collect { case (stored, actual) if actual == m.totals => stored }
    }
    served.getOrElse {
      // invalidate FIRST: no window where an old manifest covers new bytes
      Files.deleteIfExists(manifestPath(outDir))
      val out = stage(input)
      out.write.mode("overwrite").parquet(data)
      val written = spark.read.schema(out.schema).parquet(data)
      writeManifest(outDir, fp, out.schema, partStats(written))
      written
    }
  }
}
