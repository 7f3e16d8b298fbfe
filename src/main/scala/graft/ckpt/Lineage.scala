package graft.ckpt

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, XxHash64}
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
  def partStats(df: DataFrame): Array[PartStat] = hashed(Seq(inOrder(df))).head

  /** (total rows, xor of the per-partition hashes): partition-layout independent. */
  private def totals(stats: Seq[PartStat]): (Long, Long) =
    (stats.map(_.rows).sum, stats.foldLeft(0L)(_ ^ _.contentHash))

  /** order-insensitive fingerprint of an input DataFrame: xor of 64-bit row
    * hashes over the sorted columns (= global `bit_xor(xxhash64(sorted cols))`,
    * 0 for an empty input) — collision-safe enough for resume decisions. */
  def fingerprint(df: DataFrame): Long = totals(hashed(Seq(byName(df))).head)._2

  /** a frame and the column ordinals its row hash reads, in hash order */
  private type Hashed = (DataFrame, Seq[Int])
  private def inOrder(df: DataFrame): Hashed = (df, df.schema.indices)
  private def byName(df: DataFrame): Hashed = {
    val names = df.schema.fieldNames
    (df, names.indices.sortBy(names(_)))
  }

  /** `partStats` of several frames in ONE map-only job. Each frame's own
    * `queryExecution.toRdd` is hashed with a bound `XxHash64` (seed 42, the
    * value of `functions.xxhash64`); Spark keeps that RDD on the DataFrame
    * object, so hashing a frame again plans nothing and re-runs none of its
    * shuffle map stages. The union's per-partition results are split back
    * per frame by partition offset. */
  private def hashed(frames: Seq[Hashed]): Seq[Array[PartStat]] = {
    val rdds = frames.map { case (df, ordinals) =>
      val fields = df.schema.fields
      val hash = XxHash64(ordinals.map(i =>
        BoundReference(i, fields(i).dataType, fields(i).nullable)), 42L)
      val check = hash.checkInputDataTypes()
      require(check.isSuccess, s"cannot hash the rows of ${df.schema.simpleString}: $check")
      df.queryExecution.toRdd.mapPartitionsWithIndex { (p, rows) =>
        var n = 0L
        var h = 0L
        while (rows.hasNext) { h ^= hash.eval(rows.next()).asInstanceOf[Long]; n += 1 }
        Iterator.single(PartStat(p, n, h))
      }
    }
    val stats = rdds.head.sparkContext.union(rdds).collect()
    val ends = rdds.scanLeft(0)(_ + _.getNumPartitions)
    ends.zip(ends.tail).map { case (from, until) => stats.slice(from, until) }
  }

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
    * Job budget, in map-only bookkeeping jobs beyond the stage's own (plus
    * the shuffles of the input's own plan, the first time that frame is
    * hashed):
    *  - resume (manifest present): 1, hashing the input and the stored data
    *    together; the stage is skipped iff the fingerprint and the stored
    *    (rows, xor) totals both match the manifest;
    *  - cold commit (no manifest): 1 after the write, hashing the input and
    *    the read-back together, so the manifest describes the bytes on disk;
    *  - stale manifest: the resume job, then `partStats` of the read-back;
    *  - stored data unreadable with the recorded schema: the failed resume
    *    job, a lone fingerprint job (an input that cannot be hashed throws
    *    here, before the manifest is touched), then `partStats` of the
    *    read-back.
    * Each frame is planned once: the same input hashed by every stage, or a
    * returned frame fed to the next stage, reuses its `toRdd`. Both reads
    * use the recorded schema: no inference job, and the validated DataFrame
    * is the one returned.
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
    val data = s"$outDir/data"
    val in = byName(input)
    // (input fingerprint, the stored frame if it is valid) when a manifest exists
    val resumed = readManifest(outDir).map { m =>
      Try {
        val stored = spark.read.schema(m.schema).parquet(data)
        val Seq(inStats, storedStats) = hashed(Seq(in, inOrder(stored)))
        val fp = totals(inStats)._2
        (fp, Option.when(fp == m.inputFingerprint && totals(storedStats) == m.totals)(stored))
      }.getOrElse((fingerprint(input), None)) // stored side unreadable; input errors throw here
    }
    resumed.flatMap(_._2).getOrElse {
      // invalidate FIRST: no window where an old manifest covers new bytes
      Files.deleteIfExists(manifestPath(outDir))
      val out = stage(input)
      out.write.mode("overwrite").parquet(data)
      val written = spark.read.schema(out.schema).parquet(data)
      val (fp, stats) = resumed match {
        case Some((fp, _)) => (fp, partStats(written))
        case None =>
          val Seq(inStats, writtenStats) = hashed(Seq(in, inOrder(written)))
          (totals(inStats)._2, writtenStats)
      }
      writeManifest(outDir, fp, out.schema, stats)
      written
    }
  }
}
