package graft.catalog

import java.io.{BufferedOutputStream, DataOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, DataWriterFactory, WriterCommitMessage}
import org.apache.spark.sql.types.StructType

/** Task-side group-file writer. Two layout quirks are handled here:
  *  1. incoming rows may be GenericInternalRows whose UTF8Strings point
  *     into REUSED reader buffers — every record is projected to a fresh
  *     UnsafeRow so the serialized bytes are self-owned;
  *  2. Spark's group-based row-level rewrites (MERGE/UPDATE/DELETE →
  *     ReplaceData) PREPEND an internal operation column to the query
  *     output, and when the operation declares no metadata columns the
  *     plain writing task hands the row over without applying
  *     ReplaceDataProjections.rowProjection — so the table columns sit at
  *     offset 1. Detected from the first record's width; the op value is
  *     a constant marker for group-based writes (all emitted rows are
  *     keepers), so only position matters.
  *
  * Bucketed tables (`bucketed = Some((colIdx, numBuckets))`) route every
  * row to a PER-BUCKET group file using the same pmod rule as
  * [[GraftBucketFunction]] (nulls to bucket 0) and tag each emitted Group
  * with its bucket id. Value-PARTITIONED tables
  * (`partitioned = Some((colIdx, transform))`, transform ∈ identity/days/
  * months over the column's physical long) route to a PER-PARTITION group
  * file (NULLs to the `null` partition) and tag each Group with its
  * partition value. The write-side clustered distribution means a task
  * normally sees one bucket/partition; the routing map is the correctness
  * backstop when it doesn't (unshuffled small inserts, distribution
  * disabled).
  */
case class GraftWriterFactory(location: String, writeSchema: StructType,
                              bucketed: Option[(Int, Int)],
                              fieldIds: Seq[Int],
                              partitioned: Option[(Int, String)] = None,
                              partSeq: Int = 0,
                              checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
    extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      // one open group file + its pruning stats
      private class FileSink(val bucket: Option[Int], val part: Option[String]) {
        val fileName = f"part-$partitionId%05d-$taskId-${java.util.UUID.randomUUID()}.rows"
        val tmpPath = Paths.get(location).resolve(fileName + ".tmp")
        val finalPath = Paths.get(location).resolve(fileName)
        val out = new DataOutputStream(new BufferedOutputStream(
          Files.newOutputStream(tmpPath)))
        out.writeInt(writeSchema.length)
        val mins = Array.fill(longCols.length)(Long.MaxValue)
        val maxs = Array.fill(longCols.length)(Long.MinValue)
        val nonNulls = Array.fill(longCols.length)(0L)
        // bloom per long column, keyed by STABLE FIELD ID — the
        // equality-pruning complement to the (min,max) range stats
        val blooms = Array.fill(longCols.length)(new GroupBloom.Builder)
        var nRows = 0L

        def write(u: org.apache.spark.sql.catalyst.expressions.UnsafeRow): Unit = {
          var s = 0
          while (s < longCols.length) {
            val i = longCols(s)
            if (!u.isNullAt(i)) {
              val v = u.getLong(i)
              if (v < mins(s)) mins(s) = v
              if (v > maxs(s)) maxs(s) = v
              nonNulls(s) += 1
              blooms(s).add(v)
            }
            s += 1
          }
          out.writeInt(u.getSizeInBytes)
          u.writeToStream(out, copyBuffer)
          nRows += 1
        }

        def seal(): Group = {
          out.close()
          Files.move(tmpPath, finalPath, StandardCopyOption.ATOMIC_MOVE)
          if (longCols.nonEmpty && nRows > 0)
            GroupBloom.write(finalPath.resolveSibling(fileName + ".bloom"),
              longCols.indices.map(s => fieldIds(longCols(s)) -> blooms(s).result()))
          val stats = longCols.indices.flatMap { s =>
            if (mins(s) <= maxs(s))
              Some(writeSchema.fields(longCols(s)).name -> (mins(s), maxs(s)))
            else None // all-null column: no stats
          }.toMap
          val nn = longCols.indices.flatMap { s =>
            if (mins(s) <= maxs(s))
              Some(writeSchema.fields(longCols(s)).name -> nonNulls(s))
            else None
          }.toMap
          Group(fileName, stats, nRows,
                // files permanently record the field ids they were
                // written under — the identity that keeps them readable
                // across later RENAME/DROP COLUMN
                fieldIds,
                // size recorded once here so planning never stats files
                Files.size(finalPath), nn, bucket,
                bloom = longCols.nonEmpty && nRows > 0,
                part = part)
        }

        def drop(): Unit = {
          out.close()
          Files.deleteIfExists(tmpPath); Files.deleteIfExists(finalPath)
          Files.deleteIfExists(finalPath.resolveSibling(fileName + ".bloom"))
          Files.deleteIfExists(finalPath.resolveSibling(fileName + ".bloom.tmp"))
        }
      }

      private var proj: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _
      private val copyBuffer = new Array[Byte](8192) // for off-heap-backed rows
      // per-file min/max pruning stats for the physically-long columns:
      // BIGINT and TIMESTAMP_NTZ (micros) — timestamp stats are what make
      // time-range queries prune groups, and per-partition routing makes
      // them tight (a day-partition file spans one day)
      private val longCols = writeSchema.fields.zipWithIndex
        .filter(f => f._1.dataType == org.apache.spark.sql.types.LongType ||
                     f._1.dataType == org.apache.spark.sql.types.TimestampNTZType)
        .map(_._2)
      // routing key: bucket id, or the partition transform value (with a
      // NULL flag — the null partition must not collide with any value)
      private val sinks =
        scala.collection.mutable.LinkedHashMap.empty[(Long, Boolean), FileSink]
      // hot-path cache: unbucketed writes always hit one sink, and the
      // clustered write distribution makes long same-key runs the norm
      // for bucketed/partitioned ones — skip the map lookup per row
      private var lastKey: (Long, Boolean) = null
      private var lastSink: FileSink = _

      private def sinkFor(u: org.apache.spark.sql.catalyst.expressions.UnsafeRow): FileSink = {
        val k: (Long, Boolean) = bucketed match {
          case Some((idx, n)) =>
            (if (u.isNullAt(idx)) 0L
             else GraftBucketFunction.bucketOf(u.getLong(idx), n).toLong, false)
          case None => partitioned match {
            case Some((idx, t)) =>
              if (u.isNullAt(idx)) (0L, true)
              else (GraftPartitionTransforms(t, u.getLong(idx)), false)
            case None => (0L, false)
          }
        }
        if (k != lastKey) {
          // post-evolution specs (partSeq > 0) prefix the tag so groups
          // written under different layouts never share a compaction bin
          lastSink = sinks.getOrElseUpdate(k, new FileSink(
            bucketed.map(_ => k._1.toInt),
            partitioned.map { _ =>
              val v = if (k._2) "null" else k._1.toString
              if (partSeq == 0) v else s"$partSeq.$v"
            }))
          lastKey = k
        }
        lastSink
      }

      // CHECK constraints: violated-iff-(cond <=> false) predicates,
      // compiled to codegen'd Predicates once per task (see
      // CheckConstraints for the SQL NULL-passes semantics). Evaluated on
      // the PROJECTED row, so write-schema positions are the row's own.
      private lazy val checkPreds = checks.map { case (name, violated) =>
        val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(violated)
        // Predicate contract: initialize before first eval (nondeterministic
        // expressions are rejected at compile time, but the call is part of
        // the interface contract and costs nothing)
        p.initialize(partitionId)
        (name, p)
      }

      override def write(record: InternalRow): Unit = {
        if (proj == null) {
          val offset = record.numFields - writeSchema.length
          require(offset == 0 || offset == 1,
            s"row width ${record.numFields} does not match write schema ${writeSchema.length}")
          val refs = writeSchema.fields.zipWithIndex.map { case (f, i) =>
            org.apache.spark.sql.catalyst.expressions.BoundReference(
              i + offset, f.dataType, nullable = true): org.apache.spark.sql.catalyst.expressions.Expression
          }
          proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection.create(refs.toIndexedSeq)
        }
        val u = proj(record) // projection output is reused — serialize now
        checkPreds.foreach { case (name, p) =>
          if (p.eval(u)) throw new IllegalArgumentException(
            s"CHECK constraint '$name' violated by an incoming row — " +
            "write aborted, no data committed")
        }
        sinkFor(u).write(u)
      }

      override def commit(): WriterCommitMessage =
        GraftCommitMessage(sinks.values.map(_.seal()).toSeq) // empty task: no file at all

      override def abort(): Unit = sinks.values.foreach(_.drop())
      override def close(): Unit = ()
    }
}
