package graft.text

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftPlans}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types._

/** Shared-gram counting: the pair step of the exact n-gram generators
  * ([[DedupOps.ngramJaccardPairs]], [[DedupOps.ngramContainmentPairs]])
  * as one plan node.
  *
  * Input: the gated postings self-join rows `(doc1, doc2, grams1,
  * grams2)`, one row per gram the two docs share. Output: one row per
  * pair that passes the caller's [[Gate]], `(doc1, doc2, shared_grams,
  * grams1, grams2)`, with the id columns in their own type and the
  * counts as long.
  *
  * The node requires its input clustered by `doc1` and sorted on it.
  * The postings the keyed document spread feeds already are (the
  * `n_grams` window sorted them by doc), so no exchange or sort is
  * planned there; any other input gets both from `EnsureRequirements`.
  * It then streams one `doc1` run at a time into a primitive
  * open-addressing map from `doc2` to packed (count, grams2), reset
  * through its used-slot list between runs, and gates each pair before
  * it builds a row. Memory is bounded by one document's candidates,
  * never a hash table over the partition. */
object SharedGramCount {

  /** The similarity test a pair must pass, in exact integer arithmetic
    * over (shared, grams1, grams2). */
  sealed trait Gate extends Serializable {
    def keep(shared: Long, grams1: Long, grams2: Long): Boolean
  }

  /** shared / union ≥ pct / 100. */
  final case class Jaccard(pct: Int) extends Gate {
    def keep(shared: Long, grams1: Long, grams2: Long): Boolean =
      shared * 100 >= (grams1 + grams2 - shared) * pct
  }

  /** shared / min(grams1, grams2) ≥ pct / 100. */
  final case class Containment(pct: Int) extends Gate {
    def keep(shared: Long, grams1: Long, grams2: Long): Boolean =
      shared * 100 >= math.min(grams1, grams2) * pct
  }

  /** Count the shared grams of each pair in `joined` (columns `doc1`,
    * `doc2`, `grams1`, `grams2`; one row per shared gram) and keep the
    * pairs `gate` passes. Lazy: building the frame runs nothing. The
    * ids must be integral (byte, short, int or long); any other type is
    * rejected here. */
  def apply(joined: DataFrame, gate: Gate): DataFrame = {
    val in = joined.select("doc1", "doc2", "grams1", "grams2")
    val Seq(doc1, doc2, grams1, grams2) = in.queryExecution.analyzed.output
    for (a <- Seq(doc1, doc2)) require(IdCodec.of.isDefinedAt(a.dataType),
      s"shared-gram counting needs integral document ids (byte, short, int or long); " +
        s"${a.name} is ${a.dataType.simpleString}")
    val shared = AttributeReference("shared_grams", LongType, nullable = false)()
    GraftPlans.ofRows(joined,
      Count(gate, doc1, doc2, grams1, grams2, shared, in.queryExecution.analyzed))
  }

  /** Logical node. The input columns are bound by attribute, so column
    * pruning or attribute rewrites below it cannot misplace them. */
  case class Count(
      gate: Gate, doc1: Attribute, doc2: Attribute, grams1: Attribute, grams2: Attribute,
      sharedGrams: Attribute, child: LogicalPlan) extends UnaryNode {
    override def output: Seq[Attribute] = Seq(doc1, doc2, sharedGrams, grams1, grams2)
    override def producedAttributes: AttributeSet = AttributeSet(sharedGrams)
    override protected def withNewChildInternal(c: LogicalPlan): Count = copy(child = c)
  }

  /** Physical node: see [[SharedGramCount]]. */
  case class CountExec(
      gate: Gate, doc1: Attribute, doc2: Attribute, grams1: Attribute, grams2: Attribute,
      sharedGrams: Attribute, child: SparkPlan) extends UnaryExecNode {
    override def output: Seq[Attribute] = Seq(doc1, doc2, sharedGrams, grams1, grams2)
    override def producedAttributes: AttributeSet = AttributeSet(sharedGrams)
    override def requiredChildDistribution: Seq[Distribution] = ClusteredDistribution(Seq(doc1)) :: Nil
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(SortOrder(doc1, Ascending)) :: Nil
    // rows leave in their doc1 run and the node outputs every child
    // column, so the child's clustering holds
    override def outputPartitioning: Partitioning = child.outputPartitioning
    override def outputOrdering: Seq[SortOrder] = Seq(SortOrder(doc1, Ascending))

    override protected def doExecute(): RDD[InternalRow] = {
      val ordinals = Seq(doc1, doc2, grams1, grams2)
        .map(a => child.output.indexWhere(_.exprId == a.exprId))
      val ids = IdCodec.of(doc1.dataType)
      val gate = this.gate
      child.execute().mapPartitions(rows => new Runs(rows, gate, ids, ordinals))
    }

    override protected def withNewChildInternal(c: SparkPlan): CountExec = copy(child = c)
  }

  /** Plans [[Count]] as [[CountExec]]; injected by
    * [[graft.GraftExtensions]]. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case Count(gate, d1, d2, g1, g2, shared, child) =>
        CountExec(gate, d1, d2, g1, g2, shared, planLater(child)) :: Nil
      case _ => Nil
    }
  }

  /** Reads and writes an integral id column as long, without boxing;
    * `of` lists the id types the node accepts. */
  private sealed abstract class IdCodec extends Serializable {
    def get(r: InternalRow, i: Int): Long
    def put(w: UnsafeRowWriter, i: Int, v: Long): Unit
  }

  private object IdCodec {
    val of: PartialFunction[DataType, IdCodec] = {
      case LongType => new IdCodec {
        def get(r: InternalRow, i: Int): Long = r.getLong(i)
        def put(w: UnsafeRowWriter, i: Int, v: Long): Unit = w.write(i, v)
      }
      case IntegerType => new IdCodec {
        def get(r: InternalRow, i: Int): Long = r.getInt(i).toLong
        def put(w: UnsafeRowWriter, i: Int, v: Long): Unit = w.write(i, v.toInt)
      }
      case ShortType => new IdCodec {
        def get(r: InternalRow, i: Int): Long = r.getShort(i).toLong
        def put(w: UnsafeRowWriter, i: Int, v: Long): Unit = w.write(i, v.toShort)
      }
      case ByteType => new IdCodec {
        def get(r: InternalRow, i: Int): Long = r.getByte(i).toLong
        def put(w: UnsafeRowWriter, i: Int, v: Long): Unit = w.write(i, v.toByte)
      }
    }
  }

  /** The counting iterator over one partition: reads a whole doc1 run
    * into the map, then emits its gated pairs in first-seen order.
    * `ordinals` are doc1, doc2, grams1 and grams2 in the input row. */
  private final class Runs(
      rows: Iterator[InternalRow], gate: Gate, ids: IdCodec, ordinals: Seq[Int])
      extends Iterator[InternalRow] {
    private val Seq(d1, d2, g1, g2) = ordinals
    private val counts = new PairCounts
    private val writer = new UnsafeRowWriter(5)
    // the current run's doc and gram count, and the cursor over its pairs
    private var started = false
    private var runDoc = 0L
    private var runGrams = 0L
    private var cursor = 0
    // the first row of the next run, read ahead as values (the child
    // may reuse its row object)
    private var ahead = false
    private var aDoc1, aDoc2, aGrams1, aGrams2 = 0L
    private var ready: InternalRow = null

    override def hasNext: Boolean = {
      if (ready == null) ready = advance()
      ready != null
    }

    override def next(): InternalRow = {
      if (!hasNext) throw new NoSuchElementException
      val r = ready
      ready = null
      r
    }

    private def advance(): InternalRow = {
      while (true) {
        while (cursor < counts.size) {
          val slot = counts.usedSlot(cursor)
          cursor += 1
          val shared = counts.count(slot)
          val g2 = counts.grams2(slot)
          if (gate.keep(shared, runGrams, g2)) {
            writer.reset()
            writer.zeroOutNullBytes()
            ids.put(writer, 0, runDoc)
            ids.put(writer, 1, counts.key(slot))
            writer.write(2, shared)
            writer.write(3, runGrams)
            writer.write(4, g2)
            return writer.getRow
          }
        }
        if (!nextRun()) return null
      }
      null
    }

    private def read(r: InternalRow): Unit = {
      aDoc1 = ids.get(r, d1); aDoc2 = ids.get(r, d2); aGrams1 = r.getLong(g1); aGrams2 = r.getLong(g2)
    }

    /** Count the next doc1 run; false when the input is spent. */
    private def nextRun(): Boolean = {
      if (!ahead) {
        if (!rows.hasNext) return false
        read(rows.next())
      }
      if (started && aDoc1 < runDoc)
        throw new IllegalStateException(s"shared-gram input not sorted by doc1: $aDoc1 after $runDoc")
      started = true
      counts.clear()
      cursor = 0
      runDoc = aDoc1
      runGrams = aGrams1
      counts.add(aDoc2, aGrams2)
      ahead = false
      while (!ahead && rows.hasNext) {
        read(rows.next())
        if (aDoc1 == runDoc) counts.add(aDoc2, aGrams2) else ahead = true
      }
      true
    }
  }

  /** Open-addressing (linear probing) map from doc2 to a packed
    * (count << 32 | grams2); a zero value marks a free slot. The used
    * slots are listed in insertion order, which is the emit order and
    * the reset list. */
  private final class PairCounts {
    private var keys = new Array[Long](64)
    private var vals = new Array[Long](64)
    private var used = new Array[Int](32)
    private var mask = 63
    var size = 0

    def usedSlot(i: Int): Int = used(i)
    def key(slot: Int): Long = keys(slot)
    def count(slot: Int): Long = vals(slot) >>> 32
    def grams2(slot: Int): Long = vals(slot) & 0xFFFFFFFFL

    def add(key: Long, grams2: Long): Unit = {
      var i = slotOf(key)
      while (vals(i) != 0L && keys(i) != key) i = (i + 1) & mask
      if (vals(i) != 0L) vals(i) += 1L << 32
      else {
        if ((grams2 >>> 32) != 0L)
          throw new IllegalStateException(s"gram count $grams2 does not fit in 32 bits")
        keys(i) = key
        vals(i) = (1L << 32) | grams2
        if (size == used.length) used = java.util.Arrays.copyOf(used, size * 2)
        used(size) = i
        size += 1
        if (size * 2 > mask) grow()
      }
    }

    def clear(): Unit = {
      var j = 0
      while (j < size) { vals(used(j)) = 0L; j += 1 }
      size = 0
    }

    private def slotOf(key: Long): Int = {
      val h = key * 0x9E3779B97F4A7C15L
      (h ^ (h >>> 32)).toInt & mask
    }

    private def grow(): Unit = {
      val (oldKeys, oldVals) = (keys, vals)
      keys = new Array[Long](oldKeys.length * 2)
      vals = new Array[Long](oldKeys.length * 2)
      mask = keys.length - 1
      var j = 0
      while (j < size) {
        val from = used(j)
        var i = slotOf(oldKeys(from))
        while (vals(i) != 0L) i = (i + 1) & mask
        keys(i) = oldKeys(from)
        vals(i) = oldVals(from)
        used(j) = i
        j += 1
      }
    }
  }
}
