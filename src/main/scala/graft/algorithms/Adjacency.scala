package graft.algorithms

import java.util.Arrays

import scala.collection.mutable

import org.apache.spark.{HashPartitioner, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** One hash partition of a keyed index: `keys` are sorted and distinct, and
  * the rows of keys(i) are rows offsets(i) until offsets(i + 1). Row r is an
  * UnsafeRow of `fields` fields, packed at bytes(at(r) until at(r + 1)).
  * `nulls` rows of the indexed table had a null key: counted here, in no
  * key's rows.
  */
final case class CsrBlock(keys: Array[Long], offsets: Array[Int], at: Array[Int],
    bytes: Array[Byte], fields: Int, nulls: Long = 0L) {

  /** Row `r`, read through `into` (which is returned). */
  def row(r: Int, into: UnsafeRow): UnsafeRow = {
    into.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + at(r), at(r + 1) - at(r))
    into
  }

  /** The bytes of this block's arrays. */
  def byteSize: Long = 8L * keys.length + 4L * (offsets.length + at.length) + bytes.length
}

object CsrBlock {

  /** Counting sort of (key, UnsafeRow bytes) pairs into one block; a key's
    * rows keep their input order. A pair without bytes is not a row: its
    * key is a count of rows with a null key, which are only counted.
    */
  def of(rows: Iterator[(Long, Array[Byte])], fields: Int): CsrBlock = {
    val ks = mutable.ArrayBuilder.make[Long]
    val rs = mutable.ArrayBuffer[Array[Byte]]()
    var nulls = 0L
    rows.foreach { case (k, r) => if (r == null) nulls += k else { ks += k; rs += r } }
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
    val order = new Array[Int](key.length)
    var i = 0
    while (i < key.length) { order(next(slot(i))) = i; next(slot(i)) += 1; i += 1 }
    pack(keys, offsets, order.iterator.map(rs), fields).copy(nulls = nulls)
  }

  /** A block of `keys` whose rows, in order, are `rows`. */
  private def pack(keys: Array[Long], offsets: Array[Int], rows: Iterator[Array[Byte]],
      fields: Int): CsrBlock = {
    val at = mutable.ArrayBuilder.make[Int]
    val bytes = new java.io.ByteArrayOutputStream()
    at += 0
    rows.foreach { r => bytes.write(r); at += bytes.size }
    CsrBlock(keys, offsets, at.result(), bytes.toByteArray, fields)
  }

  /** The rows of `keys` (sorted) over the blocks of one partition, each
    * key's rows concatenated block by block; absent keys are left out. Past
    * `limit` rows the slice stops, holding `limit` + 1 of them.
    */
  def slice(blocks: Array[CsrBlock], keys: Array[Long], limit: Long): CsrBlock = {
    val ks = mutable.ArrayBuilder.make[Long]
    val offs = mutable.ArrayBuilder.make[Int]
    val rows = mutable.ArrayBuffer[Array[Byte]]()
    offs += 0
    var j = 0
    while (j < keys.length && rows.size <= limit) {
      val k = keys(j)
      var hit = false
      blocks.foreach { b =>
        val i = Arrays.binarySearch(b.keys, k)
        if (i >= 0) {
          hit = true
          var r = b.offsets(i)
          while (r < b.offsets(i + 1) && rows.size <= limit) {
            rows += Arrays.copyOfRange(b.bytes, b.at(r), b.at(r + 1)); r += 1
          }
        }
      }
      if (hit) { ks += k; offs += rows.size }
      j += 1
    }
    pack(ks.result(), offs.result(), rows.iterator, blocks.headOption.map(_.fields).getOrElse(0))
  }
}

/** The rows of a set of keys, as fetched by one [[Adjacency]] lookup; held
  * on the driver.
  */
final class KeyedRows private[algorithms] (blocks: Array[CsrBlock]) {
  private val at = {
    val m = mutable.LongMap.empty[Long]
    blocks.indices.foreach { b =>
      blocks(b).keys.indices.foreach(i => m(blocks(b).keys(i)) = (b.toLong << 32) | i)
    }
    m
  }

  /** Calls `f` for every row of `key`, through one reused UnsafeRow: a value
    * read from it stays valid, the row itself only until `f` returns.
    */
  def foreachRow(key: Long)(f: UnsafeRow => Unit): Unit =
    at.get(key).foreach { pos =>
      val b = blocks((pos >>> 32).toInt)
      val i = pos.toInt
      val row = new UnsafeRow(b.fields)
      var r = b.offsets(i)
      while (r < b.offsets(i + 1)) { f(b.row(r, row)); r += 1 }
    }

  /** Calls `f(neighbour, edge id)` for every edge at `key` of an edge index
    * (rows laid out as [[Adjacency.edgeColumns]]): the neighbour is the
    * endpoint that is not `key`, or `key` itself for a self-loop. Edges with
    * a null endpoint or id are skipped: no traversal can walk them.
    */
  def foreach(key: Long)(f: (Long, Long) => Unit): Unit =
    foreachRow(key) { r =>
      if (!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2)) {
        val src = r.getLong(1)
        f(if (src == key) r.getLong(2) else src, r.getLong(0))
      }
    }
}

/** A keyed index built by [[Adjacency.keyed]]: one [[CsrBlock]] per hash
  * partition, held on the driver ([[KeyedIndex.OnDriver]]) or in a
  * persisted RDD ([[KeyedIndex.Persisted]]).
  */
sealed trait KeyedIndex {
  def partitions: Int

  /** The persisted RDD that holds the blocks, which its owner unpersists. */
  def rdd: Option[RDD[CsrBlock]]
}

object KeyedIndex {

  /** Blocks small enough to keep whole on the driver: a lookup reads them
    * in place, with no Spark job.
    */
  final case class OnDriver(blocks: Array[CsrBlock]) extends KeyedIndex {
    def partitions: Int = blocks.length
    def rdd: Option[RDD[CsrBlock]] = None
  }

  /** Blocks persisted MEMORY_AND_DISK, one per partition: a lookup is one
    * job over the partitions its keys hash to.
    */
  final case class Persisted(blocks: RDD[CsrBlock]) extends KeyedIndex {
    def partitions: Int = blocks.partitions.length
    def rdd: Option[RDD[CsrBlock]] = Some(blocks)
  }
}

/** A hash-partitioned keyed index over one table's rows: the store-side
  * answer to a per-key probe. Keyed on an edge endpoint it is an adjacency,
  * the reference's out-/in-edge prefix scan (rocksdb_store.rs:652-681);
  * keyed on a vertex id or property it is the vertex get
  * (rocksdb_store.rs:606-627). A lookup reads only the partitions its keys
  * hash to, instead of joining the whole table: in place when the index is
  * held on the driver, as the reference reads its store in process, and
  * otherwise by one Spark job over those partitions' persisted blocks.
  * Both forms give the same rows.
  */
final class Adjacency private (indexes: Seq[KeyedIndex]) {
  private val partitioner = new HashPartitioner(indexes.head.partitions)
  require(indexes.forall(_.partitions == partitioner.numPartitions),
    "the indexes of one adjacency need the same number of partitions")

  /** The persisted indexes' blocks, one array per partition, in index
    * order; None when every index is held on the driver.
    */
  private val persisted: Option[RDD[Array[CsrBlock]]] =
    indexes.flatMap(_.rdd) match {
      case Seq() => None
      case Seq(one) => Some(one.mapPartitions(_.map(Array(_)), preservesPartitioning = true))
      case Seq(a, b) => Some(a.zipPartitions(b, preservesPartitioning = true) {
        (x, y) => Iterator(Array(x.next(), y.next()))
      })
    }

  /** The rows of `keys`, read from only the partitions the keys hash to:
    * on the driver, or by one job when an index is persisted (none when
    * `keys` is empty). None when they have more than `maxRows` rows: then
    * no task sends more than `maxRows` + 1 of them per index to the
    * driver.
    */
  def lookup(keys: Array[Long], maxRows: Long = Long.MaxValue): Option[KeyedRows] = {
    val byPart = Array.fill(partitioner.numPartitions)(mutable.ArrayBuilder.make[Long])
    keys.distinct.foreach(k => byPart(partitioner.getPartition(k)) += k)
    val wanted = byPart.map { b => val a = b.result(); Arrays.sort(a); a }
    val parts = wanted.indices.filter(p => wanted(p).nonEmpty)
    // per wanted partition, the persisted indexes' slices, in index order
    val fetched: Map[Int, Array[CsrBlock]] = persisted match {
      case Some(blocks) if parts.nonEmpty =>
        parts.zip(blocks.sparkContext.runJob(blocks,
          // a partition holds one element; reading to its end releases the
          // blocks' read locks
          (ctx: TaskContext, it: Iterator[Array[CsrBlock]]) =>
            it.toArray.head.map(b => CsrBlock.slice(Array(b), wanted(ctx.partitionId()), maxRows)),
          parts)).toMap
      case _ => Map.empty
    }
    val found = parts.map { p =>
      val slices = fetched.getOrElse(p, Array.empty[CsrBlock]).iterator
      val blocks = indexes.map {
        case KeyedIndex.OnDriver(held) => held(p)
        case _: KeyedIndex.Persisted => slices.next()
      }
      CsrBlock.slice(blocks.toArray, wanted(p), maxRows)
    }.toArray
    if (found.iterator.map(_.offsets.last.toLong).sum > maxRows) None
    else Some(new KeyedRows(found))
  }
}

object Adjacency {

  /** The index key of a key-column value: an integral value is its own
    * key, a string its hash (so a string lookup re-checks the rows it gets).
    */
  def keyOf(value: Any): Long = value match {
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case b: Byte => b.toLong
    case u: UTF8String => u.hashCode.toLong
  }

  /** Whether a column of this type can key an index. */
  def keyable(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType => true
    case _ => false
  }

  /** The column order of an edge index's rows: id, src, dst, then the
    * table's other columns in their order.
    */
  def edgeColumns(columns: Seq[String]): Seq[String] =
    Seq("id", "src", "dst") ++ columns.filterNot(Set("id", "src", "dst"))

  /** The rows of `table` keyed on its column `key` (one of the [[keyable]]
    * types), hash-partitioned into `partitions` blocks, built and sized by
    * one job. Rows with a null key are left out, since no equality matches
    * them, and only counted ([[CsrBlock.nulls]]): each source partition
    * sends its count, not its null rows, through the shuffle.
    * When the blocks' arrays take at most
    * `spark.sql.autoBroadcastJoinThreshold` bytes (Spark's bound for a
    * relation held whole on the driver) they are collected to it by one
    * more job and the RDD is unpersisted; otherwise the index is the RDD,
    * persisted MEMORY_AND_DISK under `name`, which the caller owns and
    * unpersists. A table that is one persisted RDD (a session's resident
    * copy or compacted table) is read as that RDD, with no query planning
    * and no generated code.
    */
  def keyed(table: DataFrame, key: String, partitions: Int, name: String): KeyedIndex = {
    val schema = table.schema
    val k = schema.fieldIndex(key)
    val kt = schema(k).dataType
    require(keyable(kt), s"cannot key an index on $key: $kt")
    val fields = schema.length
    val source: RDD[InternalRow] = table.queryExecution.optimizedPlan match {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
      case _ => table.queryExecution.toRdd
    }
    val rows = source.mapPartitions { it =>
      lazy val unsafe = UnsafeProjection.create(schema)
      var nulls = 0L
      it.filter(r => !r.isNullAt(k) || { nulls += 1; false }).map { r =>
        val u = r match { case u: UnsafeRow => u; case other => unsafe(other) }
        (keyOf(r.get(k, kt)), u.copy().getBytes)
      } ++ Iterator(nulls).filter(_ > 0).map(n => (n, null: Array[Byte]))
    }
    val blocks = rows.partitionBy(new HashPartitioner(partitions))
      .mapPartitions(it => Iterator(CsrBlock.of(it, fields)), preservesPartitioning = true)
      .setName(name)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val bytes = blocks.map(_.byteSize).fold(0L)(_ + _)
    val bound = table.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (bound <= 0 || bytes > bound) KeyedIndex.Persisted(blocks)
    else {
      // one element per partition, collected in partition order
      val held = blocks.collect()
      blocks.unpersist(blocking = true)
      KeyedIndex.OnDriver(held)
    }
  }

  /** The adjacency index of `edges` (columns src, dst, id, cast to long;
    * any others ride along as edge properties): its rows, laid out as
    * [[edgeColumns]], keyed on `src`, or on `dst` when `reverse`. See
    * [[keyed]].
    */
  def index(edges: DataFrame, reverse: Boolean, partitions: Int): KeyedIndex = {
    val types = edges.schema.map(f => f.name -> f.dataType).toMap
    val cols = edgeColumns(edges.columns.toSeq).map { c =>
      if (Set("id", "src", "dst")(c) && types(c) != LongType) col(c).cast(LongType).as(c) else col(c)
    }
    val k = if (reverse) "dst" else "src"
    keyed(edges.select(cols: _*), k, partitions, s"graft adjacency by $k")
  }

  /** Looks up one index; walked as an adjacency, forward over a src-keyed
    * index and backward over a dst-keyed one.
    */
  def apply(index: KeyedIndex): Adjacency = new Adjacency(Seq(index))

  /** Walks edges both ways: a key's rows are those of `bySrc`, then those
    * of `byDst`; the persisted ones are read by one task per partition.
    * Both indexes must have the same number of partitions.
    */
  def both(bySrc: KeyedIndex, byDst: KeyedIndex): Adjacency = new Adjacency(Seq(bySrc, byDst))
}
