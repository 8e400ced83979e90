package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StructField, StructType}

/** Per-group (taxon -> Σkmers) counter aggregate — the count-only classify
  * regroup's replacement for `collect_list(struct(taxon, kmers))` (r22,
  * guide §2.3 "aggregate before you shuffle"). The per-read hit list at
  * `detail = false` is consumed ONLY as a per-taxon count map
  * ([[graft.taxa.LcaResolver.classify]] sums kmers per taxon; its tie arm
  * LCA-folds all max-scoring taxa — both order-independent), so buffering
  * one list entry PER SPAN is pure overhead: a read's spans mostly hit the
  * same taxon (a read is drawn from one genome), and at any scale the
  * partial-aggregation buffers that cross the regroup exchange carry that
  * duplication. This aggregate sums kmers per taxon INSIDE the buffer —
  * map-side partial aggregation then ships one (taxon, Σkmers) entry per
  * distinct taxon per read instead of one entry per span.
  *
  * Semantics: update adds (taxon, kmers) into an open-addressing int
  * counter; merge sums counters entry-wise; eval emits
  * array<struct<_1: int, _2: int>> (tuple-encoder field names, so the
  * existing `Dataset[(String, Seq[(Int, Int)], Long, Int)]` shape is
  * unchanged). Entry ORDER is unspecified (hash-table iteration) exactly
  * like `collect_list`'s partition-order dependence — legal because every
  * consumer is order-independent (pinned by ClassifyCountsSpec +
  * OrderInsensitivitySpec + the full oracle). Sentinel taxa (AMBIGUOUS = -1,
  * MATE_PAIR_BORDER = -2) group like any other key; the resolver's
  * sentinel arms read the summed counts identically (sums of sums).
  *
  * kmers stay Int: a group is one READ's hits, so Σkmers ≤ fragment length
  * (the same bound the old per-span Int kmers column relied on). */
case class TaxonCountsAggregate(
    taxon: Expression,
    kmers: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[graft.taxa.IntCounter] {

  override def prettyName: String = TaxonCountsAggregate.Name
  override def children: Seq[Expression] = Seq(taxon, kmers)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(StructField("_1", IntegerType, nullable = false),
      StructField("_2", IntegerType, nullable = false))),
    containsNull = false)

  override def createAggregationBuffer(): graft.taxa.IntCounter =
    new graft.taxa.IntCounter(8)

  override def update(buf: graft.taxa.IntCounter,
      input: InternalRow): graft.taxa.IntCounter = {
    val t = taxon.eval(input)
    val c = kmers.eval(input)
    // the classify join's taxon column is null-coalesced upstream
    // (sentinelTaxon) and kmers is a non-null span field, but stay
    // defensive: a null contributes nothing, like collect_list's skip
    if (t != null && c != null)
      buf.add(t.asInstanceOf[Int], c.asInstanceOf[Int])
    buf
  }

  override def merge(b1: graft.taxa.IntCounter,
      b2: graft.taxa.IntCounter): graft.taxa.IntCounter = {
    b2.foreachEntry((t, c) => b1.add(t, c))
    b1
  }

  override def eval(buf: graft.taxa.IntCounter): Any = {
    val out = new Array[Any](buf.size)
    var i = 0
    buf.foreachEntry { (t, c) =>
      out(i) = new GenericInternalRow(Array[Any](t, c))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: graft.taxa.IntCounter): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 8 * buf.size)
    bb.putInt(buf.size)
    buf.foreachEntry { (t, c) => bb.putInt(t); bb.putInt(c) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): graft.taxa.IntCounter = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new graft.taxa.IntCounter(math.max(8, n))
    var i = 0
    while (i < n) {
      buf.add(bb.getInt, bb.getInt)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TaxonCountsAggregate =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): TaxonCountsAggregate =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(taxon = newChildren(0), kmers = newChildren(1))
}

object TaxonCountsAggregate {
  val Name = "taxon_counts"

  /** Register `taxon_counts(taxon, kmers)` once per session: the builder
    * takes no parameters, so a later call keeps the existing entry. */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    if (!registry.functionExists(FunctionIdentifier(Name)))
      registry.createOrReplaceTempFunction(Name,
        es => TaxonCountsAggregate(es(0), es(1)).toAggregateExpression(),
        "built-in")
  }

  def taxonCounts(taxon: Column, kmers: Column): Column =
    call_function(Name, taxon, kmers)
}
