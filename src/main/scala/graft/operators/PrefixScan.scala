package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow, JoinedRow, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{InternalRows, SpillableRowBuffer}
import org.apache.spark.sql.types.LongType

/** Distributed prefix scan: running aggregates in a GLOBAL total order
  * without a single-partition window. The classic two-phase carry-in
  * algorithm (Blelloch's scan, the shape every parallel-prefix library
  * uses): range-partition + sort on the order key (a distributed sort),
  * aggregate each partition independently, roll the per-partition
  * aggregates into exclusive carry-ins on the driver (one long per
  * partition — bounded state), broadcast them, and have a second pass
  * emit each row's running value as carry-in ⊕ local prefix. Both
  * passes are fully distributed; driver state never exceeds the
  * partition count.
  *
  * This is the same two-job pattern as [[Ranking.globalRowNumbers]]
  * (`zipWithIndex` is exactly a prefix-SUM of ones) generalized to any
  * associative combine — the sanctioned answer whenever an analytic
  * needs `agg(...) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)` with
  * no partition: interval sweeps (peak concurrency), skyline
  * dominance (running max over a sorted dimension), global cumulative
  * totals. A plain unpartitioned window funnels the whole table
  * through one task and dies at scale; this does not.
  */
object PrefixScan {

  /** An associative combine over longs with identity `neutral`. */
  sealed trait Op {
    def neutral: Long
    def combine(a: Long, b: Long): Long
  }
  /** Running total. Overflow fails loudly (`Math.addExact`): a global
    * running sum at 100 TB can exceed int64, and the codebase's
    * integer-exactness convention (decimal(38,0) elsewhere) forbids a
    * silent wrap. Pre-scale cents to a coarser unit upstream if the
    * total can exceed ~9.2e18. */
  case object Sum extends Op {
    val neutral = 0L
    def combine(a: Long, b: Long): Long = Math.addExact(a, b)
  }
  /** Running maximum (identity = Long.MinValue). */
  case object Max extends Op {
    val neutral = Long.MinValue
    def combine(a: Long, b: Long): Long = math.max(a, b)
  }

  /** Append exclusive (`exclCol`, the running value BEFORE this row) and
    * inclusive (`inclCol`, after) prefix aggregates of LONG `valueCol`
    * in the total order of `orderCols`.
    *
    * Deterministic iff `orderCols` is a total order (same contract as
    * [[Ranking.globalRowNumbers]]); peers under a partial order would
    * get partition-dependent intermediate values. The first row's
    * `exclCol` is `op.neutral`. Like `zipWithIndex`, the sorted lineage
    * is computed twice (once for the per-partition aggregates, once for
    * the emit pass) rather than pinning executor memory with a persist —
    * the range partitioner is built once and reused, so both jobs see
    * identical partition boundaries and order. */
  def runningLong(df: DataFrame, orderCols: Seq[String], valueCol: String,
                  op: Op, exclCol: String = "run_excl",
                  inclCol: String = "run_incl"): DataFrame = {
    require(orderCols.nonEmpty, "at least one order column")
    require(!df.columns.contains(exclCol) && !df.columns.contains(inclCol),
      s"output columns $exclCol/$inclCol already exist")
    val sorted = df
      .repartitionByRange(orderCols.map(col): _*)
      .sortWithinPartitions(orderCols.map(col): _*)
    // one shuffled, sorted RDD shared by both jobs: shuffle map outputs
    // are reused so the range shuffle is not redone, but the reduce-side
    // SortExec re-runs in the emit pass (deterministic given the total
    // order) — cheaper than persisting the sorted lineage at scale.
    // InternalRow bridge (org.apache.spark.sql.graft.InternalRows): both
    // passes only read one long per row, so the old `df.rdd` hop paid an
    // external-row decode of EVERY column twice, plus a full re-encode
    // on emit, for nothing
    val rdd = InternalRows.toRdd(sorted)
    val idx = sorted.schema.fieldIndex(valueCol)
    require(sorted.schema(idx).dataType == LongType,
      s"$valueCol must be LONG (cast upstream)")
    // nulls are a CONTRACT violation checked at runtime with a clear
    // error, not a schema-nullability require: parquet-sourced columns
    // are conservatively nullable even when null-free, and rejecting
    // them statically would force semantically-no-op coalesces on every
    // caller. An actual null fails loudly here instead of as an NPE.
    val vCol = valueCol
    def valueAt(r: InternalRow): Long = {
      if (r.isNullAt(idx)) throw new IllegalArgumentException(
        s"$vCol contains NULL — filter or coalesce upstream of PrefixScan")
      r.getLong(idx)
    }
    val partAggs = rdd
      .mapPartitionsWithIndex { (i, it) =>
        var acc = op.neutral
        it.foreach(r => acc = op.combine(acc, valueAt(r)))
        Iterator.single((i, acc))
      }
      .collect().sortBy(_._1).map(_._2)
    val carries = partAggs.scanLeft(op.neutral)(op.combine).dropRight(1)
    val bc = df.sparkSession.sparkContext.broadcast(carries)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var acc = bc.value(i)
      // reused buffers, per the scan-node row contract (the downstream
      // scan projects each row to unsafe before any buffering)
      val extra = new GenericInternalRow(2)
      val joined = new JoinedRow
      it.map { r =>
        val excl = acc
        acc = op.combine(acc, valueAt(r))
        extra.update(0, excl)
        extra.update(1, acc)
        joined(r, extra): InternalRow
      }
    }
    InternalRows.toDataFrame(df, out,
      sorted.schema
        .add(exclCol, LongType, nullable = false)
        .add(inclCol, LongType, nullable = false))
  }

  /** SEGMENTED prefix scan: per-GROUP inclusive running sum (`cumCol`)
    * and per-group TOTAL (`totCol`) of LONG `valueCol`, in the total
    * order `groupCols ++ orderCols` — one range-sort, one bounded driver
    * roll-up, one emit pass. The grouped twin of [[runningLong]], built
    * so [[Ranking.groupedRuns]] needs NO per-group statistics
    * aggregation and NO join back (r19: that branch cost a re-sort of
    * the run table, two aggregate stages and a broadcast join per call —
    * and the broadcast was unbounded in the group count, the r18 advice
    * risk).
    *
    * How the carries generalize: groups are CONTIGUOUS in the global
    * order, so only each partition's FIRST and LAST group can straddle a
    * partition boundary. Pass 1 collects per partition (first-group key,
    * its partial sum, last-group key, its partial sum) — group keys as
    * UnsafeRow bytes, so driver state stays ≤ 2 rows per partition
    * regardless of group cardinality. The driver walks partitions in
    * order, stitching straddling groups into: the first group's carry-in
    * (weight in earlier partitions), the first group's GLOBAL total, and
    * the last group's global total. The emit pass streams the first
    * segment (carry + known total) and the last segment (identified by
    * its group key, known total), and buffers only INTERIOR segments —
    * which by construction lie entirely inside one partition — in a
    * spill-capable buffer to learn their local totals.
    *
    * Same contracts as [[runningLong]]: `groupCols ++ orderCols` must be
    * a total order, `valueCol` must be non-null LONG, sums overflow
    * loudly. Output: the input columns + `cumCol` + `totCol`. */
  def groupedRunningLong(df: DataFrame, groupCols: Seq[String],
                         orderCols: Seq[String], valueCol: String,
                         cumCol: String = "_cum",
                         totCol: String = "n"): DataFrame = {
    require(groupCols.nonEmpty, "at least one group column")
    require(orderCols.nonEmpty, "at least one order column")
    require(!df.columns.contains(cumCol) && !df.columns.contains(totCol),
      s"output columns $cumCol/$totCol already exist")
    val allOrder = (groupCols ++ orderCols).map(col)
    val sorted = df
      .repartitionByRange(allOrder: _*)
      .sortWithinPartitions(allOrder: _*)
    val rdd = InternalRows.toRdd(sorted)
    val schema = sorted.schema
    val idx = schema.fieldIndex(valueCol)
    require(schema(idx).dataType == LongType,
      s"$valueCol must be LONG (cast upstream)")
    val gRefs = groupCols.map { c =>
      val i = schema.fieldIndex(c)
      BoundReference(i, schema(i).dataType, schema(i).nullable)
    }
    val vCol = valueCol
    def valueAt(r: InternalRow): Long = {
      if (r.isNullAt(idx)) throw new IllegalArgumentException(
        s"$vCol contains NULL — filter or coalesce upstream of PrefixScan")
      r.getLong(idx)
    }
    // pass 1: per-partition boundary-group partials (empty partitions
    // emit nothing and are transparent to the driver walk)
    val boundaries = rdd.mapPartitionsWithIndex { (p, it) =>
      if (it.isEmpty) Iterator.empty
      else {
        val proj = UnsafeProjection.create(gRefs)
        var firstKey: Array[Byte] = null
        var firstSum = 0L
        var curKey: UnsafeRow = null
        var acc = 0L
        it.foreach { r =>
          val g = proj(r)
          if (curKey == null) curKey = g.copy()
          else if (g != curKey) {
            if (firstKey == null) { firstKey = curKey.getBytes; firstSum = acc }
            curKey = g.copy(); acc = 0L
          }
          acc = Sum.combine(acc, valueAt(r))
        }
        val lastKey = curKey.getBytes
        if (firstKey == null) { firstKey = lastKey; firstSum = acc }
        Iterator.single((p, firstKey, firstSum, lastKey, acc))
      }
    }.collect().sortBy(_._1)
    // driver roll-up: carry-in for the first group, global totals for
    // the boundary groups. Bounded state: the open-group membership list
    // holds at most one (partition, role) pair per partition.
    val numParts = rdd.getNumPartitions
    val carryF = new Array[Long](numParts)
    val totFirst = new Array[Long](numParts)
    val totLast = new Array[Long](numParts)
    val lastKeys = new Array[Array[Byte]](numParts)
    locally {
      val open = scala.collection.mutable.ArrayBuffer[(Int, Boolean, Boolean)]()
      var curG: Array[Byte] = null
      var curAcc = 0L
      def finalizeGroup(total: Long): Unit = {
        open.foreach { case (p, asFirst, asLast) =>
          if (asFirst) totFirst(p) = total
          if (asLast) totLast(p) = total
        }
        open.clear(); curG = null
      }
      boundaries.foreach { case (p, fg, aF, lg, aL) =>
        lastKeys(p) = lg
        val single = java.util.Arrays.equals(fg, lg)
        val cont = curG != null && java.util.Arrays.equals(fg, curG)
        if (cont) carryF(p) = curAcc
        else if (curG != null) finalizeGroup(curAcc)
        if (single) {
          if (cont) { open += ((p, true, true)); curAcc = Sum.combine(curAcc, aF) }
          else { curG = fg; curAcc = aF; open += ((p, true, true)) }
        } else {
          if (cont) { open += ((p, true, false)); finalizeGroup(Sum.combine(curAcc, aF)) }
          else totFirst(p) = aF // group opens and closes inside p's head
          curG = lg; curAcc = aL; open += ((p, false, true))
        }
      }
      if (curG != null) finalizeGroup(curAcc)
    }
    val bc = df.sparkSession.sparkContext
      .broadcast((carryF, totFirst, totLast, lastKeys))
    val out = rdd.mapPartitionsWithIndex { (p, it) =>
      if (it.isEmpty) Iterator.empty
      else new Iterator[InternalRow] {
        private val (cF, tF, tL, lK) = bc.value
        private val proj = UnsafeProjection.create(gRefs)
        private val extra = new GenericInternalRow(2)
        private val joined = new JoinedRow
        private val lastKey = lK(p)
        // the row/group held over from detecting a segment boundary
        private var pendingRow: InternalRow = _
        private var pendingGroup: UnsafeRow = _
        private var firstSegment = true
        private var srcDone = false
        private var seg: Iterator[InternalRow] = Iterator.empty

        private def emit(r: InternalRow, cum: Long, tot: Long): InternalRow = {
          extra.update(0, cum); extra.update(1, tot)
          joined(r, extra)
        }
        /** Streaming segment: emits `first` then source rows while they
          * stay in `g`; a row of the next group parks in `pending*`. */
        private def streaming(first: InternalRow, g: UnsafeRow, base: Long,
                              tot: Long): Iterator[InternalRow] =
          new Iterator[InternalRow] {
            private var acc = base
            private var head: InternalRow = first
            def hasNext: Boolean = {
              if (head != null) return true
              if (srcDone) return false
              if (!it.hasNext) { srcDone = true; return false }
              val r = it.next()
              val rg = proj(r)
              if (rg == g) { head = r; true }
              else {
                pendingRow = r.copy(); pendingGroup = rg.copy()
                false
              }
            }
            def next(): InternalRow = {
              val r = head; head = null
              acc = Sum.combine(acc, valueAt(r))
              emit(r, acc, tot)
            }
          }
        /** One spill-capable buffer per partition, cleared for each
          * interior segment: a buffer per segment would hold every
          * spilled segment's sorter memory until the task ends, and a
          * partition of many spilling segments could then not acquire
          * memory. */
        private val buf = new SpillableRowBuffer
        /** Interior segment: wholly inside this partition — buffer it
          * to learn its local total, then emit. The previous segment is
          * fully drained before the next one starts, so clearing here
          * never drops an unread row. */
        private def buffered(first: InternalRow,
                             g: UnsafeRow): Iterator[InternalRow] = {
          buf.clear()
          var tot = valueAt(first)
          buf.add(first)
          var open = true
          while (open) {
            if (!it.hasNext) { srcDone = true; open = false }
            else {
              val r = it.next()
              val rg = proj(r)
              if (rg == g) { tot = Sum.combine(tot, valueAt(r)); buf.add(r) }
              else {
                pendingRow = r.copy(); pendingGroup = rg.copy()
                open = false
              }
            }
          }
          val totF = tot
          var acc = 0L
          buf.iterator.map { r =>
            acc = Sum.combine(acc, valueAt(r))
            emit(r, acc, totF)
          }
        }
        private def advance(): Unit = {
          // next segment's head: the parked row, or (only at the very
          // start) the first source row
          val (head, g) =
            if (pendingRow != null) {
              val h = (pendingRow, pendingGroup)
              pendingRow = null; pendingGroup = null
              h
            } else if (firstSegment && it.hasNext) {
              val r = it.next()
              (r.copy(), proj(r).copy())
            } else { srcDone = true; return }
          seg =
            if (firstSegment) { firstSegment = false
              streaming(head, g, cF(p), tF(p)) }
            else if (java.util.Arrays.equals(g.getBytes, lastKey))
              streaming(head, g, 0L, tL(p))
            else buffered(head, g)
        }
        def hasNext: Boolean = {
          while (!seg.hasNext && !(srcDone && pendingRow == null)) advance()
          seg.hasNext
        }
        def next(): InternalRow = seg.next()
      }
    }
    InternalRows.toDataFrame(df, out,
      schema
        .add(cumCol, LongType, nullable = false)
        .add(totCol, LongType, nullable = false))
  }
}
