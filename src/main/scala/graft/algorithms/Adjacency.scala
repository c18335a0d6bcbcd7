package graft.algorithms

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One hash partition of an adjacency index in CSR form: `keys` are sorted
  * and distinct, and the neighbours of keys(i) are nbrs(offsets(i) until
  * offsets(i + 1)), reached over the edges with the same positions in
  * `eids`.
  */
final case class CsrBlock(keys: Array[Long], offsets: Array[Int],
    nbrs: Array[Long], eids: Array[Long])

object CsrBlock {

  /** Counting sort of (key, (neighbour, edge id)) rows into one block;
    * a key's neighbours keep their input order.
    */
  def of(rows: Iterator[(Long, (Long, Long))]): CsrBlock = {
    val ks = mutable.ArrayBuilder.make[Long]
    val ns = mutable.ArrayBuilder.make[Long]
    val es = mutable.ArrayBuilder.make[Long]
    rows.foreach { case (k, (n, e)) => ks += k; ns += n; es += e }
    val key = ks.result()
    val sorted = key.clone()
    Arrays.sort(sorted)
    val keys = if (sorted.isEmpty) sorted else {
      val b = mutable.ArrayBuilder.make[Long]
      b += sorted(0)
      var i = 1
      while (i < sorted.length) { if (sorted(i) != sorted(i - 1)) b += sorted(i); i += 1 }
      b.result()
    }
    val offsets = new Array[Int](keys.length + 1)
    val slot = key.map(k => Arrays.binarySearch(keys, k))
    slot.foreach(j => offsets(j + 1) += 1)
    var j = 0
    while (j < keys.length) { offsets(j + 1) += offsets(j); j += 1 }
    val next = offsets.clone()
    val nbrs = new Array[Long](key.length)
    val eids = new Array[Long](key.length)
    val n = ns.result()
    val e = es.result()
    var i = 0
    while (i < key.length) {
      val p = next(slot(i))
      nbrs(p) = n(i); eids(p) = e(i); next(slot(i)) = p + 1
      i += 1
    }
    CsrBlock(keys, offsets, nbrs, eids)
  }

  /** The rows of `keys` (sorted) over the blocks of one partition, each
    * key's neighbours concatenated block by block; absent keys are left
    * out. Past `limit` edges the slice stops, holding `limit` + 1 of them.
    */
  def slice(blocks: Array[CsrBlock], keys: Array[Long], limit: Long): CsrBlock = {
    val ks = mutable.ArrayBuilder.make[Long]
    val offs = mutable.ArrayBuilder.make[Int]
    val ns = mutable.ArrayBuilder.make[Long]
    val es = mutable.ArrayBuilder.make[Long]
    offs += 0
    var total = 0
    var j = 0
    while (j < keys.length && total <= limit) {
      val k = keys(j)
      var hit = false
      blocks.foreach { b =>
        val i = Arrays.binarySearch(b.keys, k)
        if (i >= 0) {
          hit = true
          var p = b.offsets(i)
          while (p < b.offsets(i + 1) && total <= limit) {
            ns += b.nbrs(p); es += b.eids(p); total += 1; p += 1
          }
        }
      }
      if (hit) { ks += k; offs += total }
      j += 1
    }
    CsrBlock(ks.result(), offs.result(), ns.result(), es.result())
  }
}

/** The neighbours of a set of keys, as fetched by one [[Adjacency]]
  * lookup; held on the driver.
  */
final class Neighbors private[algorithms] (blocks: Array[CsrBlock]) {
  private val at = {
    val m = mutable.LongMap.empty[Long]
    blocks.indices.foreach { b =>
      blocks(b).keys.indices.foreach(i => m(blocks(b).keys(i)) = (b.toLong << 32) | i)
    }
    m
  }

  /** Calls `f(neighbour, edge id)` for every edge leaving `key`. */
  def foreach(key: Long)(f: (Long, Long) => Unit): Unit =
    at.get(key).foreach { pos =>
      val b = blocks((pos >>> 32).toInt)
      val i = pos.toInt
      var p = b.offsets(i)
      while (p < b.offsets(i + 1)) { f(b.nbrs(p), b.eids(p)); p += 1 }
    }
}

/** A hash-partitioned adjacency index over one edge table, walked in one
  * direction: the store-side answer to a traversal's per-vertex probe
  * (the reference's out-edge prefix scan, rocksdb_store.rs:652-681). A
  * lookup of a frontier is one Spark job over only the partitions its
  * keys hash to, instead of a join over the whole edge table; the
  * partitions hold [[CsrBlock]]s, built once and kept persisted by
  * whoever owns the index (see `Adjacency.index`).
  */
final class Adjacency private (blocks: RDD[Array[CsrBlock]]) {
  private val partitioner = new HashPartitioner(blocks.partitions.length)

  /** The neighbours of `keys`, fetched by one job whose tasks touch only
    * the partitions the keys hash to (none when `keys` is empty). None
    * when they have more than `maxEdges` edges: then no task sends more
    * than `maxEdges` + 1 of them to the driver.
    */
  def neighbors(keys: Array[Long], maxEdges: Long = Long.MaxValue): Option[Neighbors] = {
    val byPart = Array.fill(partitioner.numPartitions)(mutable.ArrayBuilder.make[Long])
    keys.distinct.foreach(k => byPart(partitioner.getPartition(k)) += k)
    val wanted = byPart.map { b => val a = b.result(); Arrays.sort(a); a }
    val parts = wanted.indices.filter(p => wanted(p).nonEmpty)
    val found =
      if (parts.isEmpty) Array.empty[CsrBlock]
      else blocks.sparkContext.runJob(blocks,
        (ctx: TaskContext, it: Iterator[Array[CsrBlock]]) =>
          CsrBlock.slice(it.next(), wanted(ctx.partitionId()), maxEdges),
        parts)
    if (found.iterator.map(_.nbrs.length.toLong).sum > maxEdges) None
    else Some(new Neighbors(found))
  }
}

object Adjacency {

  /** CSR blocks of `edges` (columns src, dst, id) keyed on `src`, or on
    * `dst` when `reverse`, hash-partitioned into `partitions` blocks,
    * persisted MEMORY_AND_DISK and materialized (one job). The caller owns
    * the returned RDD and unpersists it. Edges with a null endpoint or id
    * are left out: no traversal can walk them.
    */
  def index(edges: DataFrame, reverse: Boolean, partitions: Int): RDD[CsrBlock] = {
    val (k, n) = if (reverse) ("dst", "src") else ("src", "dst")
    val rows = edges.where(col(k).isNotNull && col(n).isNotNull && col("id").isNotNull)
      .select(col(k).cast("long"), col(n).cast("long"), col("id").cast("long"))
      .queryExecution.toRdd
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2))))
    val blocks = rows.partitionBy(new HashPartitioner(partitions))
      .mapPartitions(it => Iterator(CsrBlock.of(it)), preservesPartitioning = true)
      .setName(s"graft adjacency by $k")
      .persist(StorageLevel.MEMORY_AND_DISK)
    blocks.count()
    blocks
  }

  /** Walks one index: forward over a src-keyed index, backward over a
    * dst-keyed one.
    */
  def apply(index: RDD[CsrBlock]): Adjacency =
    new Adjacency(index.mapPartitions(_.map(Array(_)), preservesPartitioning = true))

  /** Walks edges both ways: a key's neighbours are those of `bySrc`, then
    * those of `byDst`, read by one task per partition. Both indexes must
    * have the same number of partitions.
    */
  def both(bySrc: RDD[CsrBlock], byDst: RDD[CsrBlock]): Adjacency =
    new Adjacency(bySrc.zipPartitions(byDst, preservesPartitioning = true) {
      (a, b) => Iterator(Array(a.next(), b.next()))
    })
}
