package graft.core

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder

/** What the selector's probe scan saw: the exact row count and a seeded
  * uniform sample of up to k rows, in sample-key order (so any prefix is
  * itself a uniform sample). `all` holds every input row, in scan order,
  * when the sample did: n <= k. */
private[core] final case class Probe(nrows: Long, sample: IndexedSeq[Row],
    all: Option[IndexedSeq[Row]])

/** The selector's probe questions — how many rows, and which rows to test
  * the candidates on — answered by ONE scan of the input
  * (`df.queryExecution.toRdd`), one Spark job.
  *
  * Bottom-k sampling: every row gets a pseudo-random key from (seed,
  * partition, ordinal) — a splitmix64 stream per partition — and each
  * partition keeps the k smallest keys in a bounded max-heap, copying
  * (`InternalRow.copy()`) only rows that enter the heap. The k smallest
  * keys overall are a uniform sample without replacement of size min(k, n)
  * (the reference draws random sorted positions, swifter/base.py:46-47),
  * and the same seed over the same partitioning draws the same rows.
  *
  * Partials merge with `treeAggregate` (default depth 2), each merge
  * keeping the k smallest of two k-bounded partials: the driver gets at
  * most ~√partitions partials of ≤ k rows each and folds them as they
  * arrive, holding O(k) rows — never k × partitions. Up to 5 partitions
  * (local[4] file scans) the tree adds no shuffle stage. Only the final
  * ≤ k rows are deserialized to `Row`, on the driver. */
private[core] object ProbeScan {

  /** One kept row: its sample key, its scan position, and a private copy. */
  private final case class Kept(key: Long, part: Int, ord: Long, row: InternalRow)

  /** Rows counted so far and up to k kept rows, ascending by [[before]]. */
  private final case class Partial(n: Long, kept: Array[Kept])

  private val Gamma = 0x9E3779B97F4A7C15L

  /** splitmix64 finalizer. */
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Total order on kept rows; ties on the key break by scan position so
    * the merge result does not depend on partial arrival order. */
  private def before(a: Kept, b: Kept): Boolean =
    a.key < b.key || (a.key == b.key &&
      (a.part < b.part || (a.part == b.part && a.ord < b.ord)))

  private def scanPartition(part: Int, rows: Iterator[InternalRow], k: Int,
      seed: Long): Partial = {
    // max-heap on `before`: the head is the worst kept row
    val heap = new java.util.PriorityQueue[Kept](math.max(1, k),
      (a: Kept, b: Kept) => if (before(a, b)) 1 else if (before(b, a)) -1 else 0)
    val state = mix(seed ^ mix(part.toLong * Gamma))
    var ord = 0L
    while (rows.hasNext) {
      val r = rows.next()
      if (k > 0) {
        val key = mix(state + (ord + 1) * Gamma)
        if (heap.size < k) heap.add(Kept(key, part, ord, r.copy()))
        // equal keys keep the earlier ordinal, which is already in the heap
        else if (key < heap.peek().key) { heap.poll(); heap.add(Kept(key, part, ord, r.copy())) }
      }
      ord += 1
    }
    Partial(ord, heap.toArray(new Array[Kept](0)).sortWith(before))
  }

  /** The k first (by [[before]]) rows of two sorted partials. */
  private def merge(k: Int)(a: Partial, b: Partial): Partial = {
    val out = new Array[Kept](math.min(k, a.kept.length + b.kept.length))
    var i = 0; var j = 0; var o = 0
    while (o < out.length) {
      if (j >= b.kept.length || (i < a.kept.length && before(a.kept(i), b.kept(j)))) {
        out(o) = a.kept(i); i += 1
      } else { out(o) = b.kept(j); j += 1 }
      o += 1
    }
    Partial(a.n + b.n, out)
  }

  /** Count `df` exactly and draw up to `k` rows with `seed`, in one job. */
  def run(df: DataFrame, k: Int, seed: Long): Probe = {
    val total = df.queryExecution.toRdd
      .mapPartitionsWithIndex((p, it) => Iterator.single(scanPartition(p, it, k, seed)))
      .treeAggregate(Partial(0L, Array.empty))(merge(k), merge(k))
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    val sample = total.kept.toIndexedSeq.map(kr => toRow(kr.row))
    val all =
      if (sample.length.toLong != total.n) None
      else Some(total.kept.indices
        .sortBy(i => (total.kept(i).part, total.kept(i).ord)).map(sample))
    Probe(total.n, sample, all)
  }
}
