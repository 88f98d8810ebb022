package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Checkpointed stage boundaries + per-partition lineage metrics.
  *
  * The reference's persistence surface is an unimplemented stub
  * (`saveTable`, `/root/reference/hashIndex/StdHashIndex.h:189-192` and
  * equivalents) — this engine adds the real thing, which the north rule
  * requires: every pipeline stage writes Parquet plus a `_MANIFEST.json`
  * (stage name, input signature, row count, wall ms, per-output-file row
  * lineage). On rerun, a stage whose manifest exists and whose input
  * signature matches is read back instead of recomputed, so a killed job
  * resumes from the last completed stage with byte-identical results
  * (everything downstream is a pure function of seeds + inputs).
  *
  * With no checkpoint dir configured the runner is a pass-through (tests
  * that don't exercise resumability pay nothing).
  */
object Checkpoints {

  final case class StageInfo(
      name: String,
      inputSig: String,
      rows: Long,
      wallMs: Long,
      resumed: Boolean,
      files: Seq[(String, Long)])

  /** Run (or resume) one named stage. */
  def stage(
      spark: SparkSession,
      checkpointDir: Option[String],
      name: String,
      inputSig: String)(compute: => DataFrame): (DataFrame, StageInfo) = {
    checkpointDir match {
      case None =>
        val t0 = System.nanoTime()
        val df = compute
        (df, StageInfo(name, inputSig, -1L, (System.nanoTime() - t0) / 1000000, resumed = false, Nil))
      case Some(root) =>
        val dir = s"$root/$name"
        val manifestPath = Paths.get(s"$root/_MANIFEST_$name.json")
        // Spark's file sources widen every array element to nullable on
        // read (even an explicit read-schema is asNullable'd), so a naive
        // read-back would CHANGE the stage's schema — and downstream native
        // kernels (graft.functions.ArraySetExprs) reject nullable-element
        // arrays at analysis time rather than misread them. A sidecar
        // schema file records what was written; the read-back re-tightens
        // those columns with a zero-cost static assertion
        // (graft.functions.SchemaAsserts): a resumed stage is byte-identical
        // INCLUDING schema.
        val schemaPath = Paths.get(s"$root/_SCHEMA_$name.json")
        def readBack(): DataFrame = {
          val js = new String(Files.readAllBytes(schemaPath), StandardCharsets.UTF_8)
          graft.functions.SchemaAsserts.tightenArrays(spark.read.parquet(dir),
            org.apache.spark.sql.types.DataType.fromJson(js)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
        }
        if (Files.exists(manifestPath)) {
          val m = new String(Files.readAllBytes(manifestPath), StandardCharsets.UTF_8)
          // without its sidecar a stage can only be read back widened, and
          // a recomputed downstream stage would then fail analysis on the
          // nullable-element arrays: such a manifest is stale too
          if (m.contains(s""""input_sig": "$inputSig"""") && Files.exists(schemaPath)) {
            return (readBack(), StageInfo(name, inputSig, -1L, 0L, resumed = true, Nil))
          }
          Files.delete(manifestPath) // stale: input changed → recompute
        }
        val t0 = System.nanoTime()
        val out = compute
        out.write.mode("overwrite").parquet(dir)
        val tmp = Paths.get(schemaPath.toString + ".tmp")
        Files.write(tmp, out.schema.json.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, schemaPath, StandardCopyOption.ATOMIC_MOVE,
          StandardCopyOption.REPLACE_EXISTING)
        val df = readBack()
        // per-output-file lineage: rows per parquet file of the materialized
        // stage (the durable unit a resume re-reads)
        val files = df.groupBy(input_file_name().as("file")).count()
          .collect()
          .map(r => (r.getString(0).replaceAll(".*/", ""), r.getLong(1)))
          .toSeq.sortBy(_._1)
        val rows = files.map(_._2).sum
        val wallMs = (System.nanoTime() - t0) / 1000000
        val info = StageInfo(name, inputSig, rows, wallMs, resumed = false, files)
        writeManifest(manifestPath.toString, info)
        (df, info)
    }
  }

  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def writeManifest(path: String, info: StageInfo): Unit = {
    val parts = info.files
      .map { case (f, n) => s"""{"file": "${jsonEsc(f)}", "rows": $n}""" }
      .mkString("[", ", ", "]")
    val json =
      s"""{"stage": "${jsonEsc(info.name)}", "input_sig": "${jsonEsc(info.inputSig)}", """ +
        s""""rows": ${info.rows}, "wall_ms": ${info.wallMs}, "partitions": $parts}"""
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, json.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}
