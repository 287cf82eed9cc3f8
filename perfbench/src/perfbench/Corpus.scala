package perfbench

import graft.store.MerkonStore
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import scala.collection.mutable

/** A seeded clustered embedding corpus. Cluster centers are random unit
  * directions; a member is its center plus independent N(0, sigma^2) noise
  * in every dimension. The noise is loose enough that the store's
  * calibrated IVF probe width is above one cell and recall@10 of the
  * indexed path stays below 1.0. Every vector, key and source name is a
  * function of the seed alone, so one seed always gives the same inputs. */
final class Corpus(seed: Long, val dim: Int, nClusters: Int, sigma: Double) {
  val rng = new java.util.Random(seed)
  private val centers: Array[Array[Double]] = Array.fill(nClusters) {
    val v = Array.fill(dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }

  /** A new member of a random cluster. */
  def member(): Array[Float] = {
    val c = centers(rng.nextInt(nClusters))
    Array.tabulate(dim)(d => (c(d) + rng.nextGaussian() * sigma).toFloat)
  }

  /** A query near `v`: the vector plus half-width jitter. */
  def jitter(v: Array[Float]): Array[Float] =
    Array.tabulate(dim)(d => (v(d) + rng.nextGaussian() * sigma * 0.5).toFloat)
}

object Corpus {
  val Sources: IndexedSeq[String] = (0 until 8).map(i => s"src$i")

  def key(i: Int): String = f"v$i%07d"

  /** Records in the store's schema, `metadata.id` = key. */
  def records(spark: SparkSession, rows: Seq[(String, String, Array[Float])],
      partitions: Int): DataFrame = {
    val ts = new java.sql.Timestamp(1700000000000L)
    val data = rows.map { case (k, src, v) =>
      Row(k, Row(false, src, k, null, s"text of $k", null), v.toSeq, ts)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, partitions),
      MerkonStore.recordSchema)
  }
}

/** In-process brute force over the live records: the answer every store
  * result is checked against. Scores use the program's own formula and
  * summation order (`dot / (sqrt(|x|^2) * sqrt(|q|^2))` in doubles), so the
  * exact path matches to the last bit; `Tol` covers other kernels. */
final class Oracle(dim: Int) {
  private val slot = mutable.HashMap.empty[String, Int]
  private val keys = mutable.ArrayBuffer.empty[String]
  private val srcs = mutable.ArrayBuffer.empty[String]
  private val vecs = mutable.ArrayBuffer.empty[Array[Float]]
  private val alive = mutable.ArrayBuffer.empty[Boolean]
  // live keys in a dense array, for O(1) random picks and removals
  private val liveList = mutable.ArrayBuffer.empty[String]
  private val livePos = mutable.HashMap.empty[String, Int]

  def put(key: String, src: String, v: Array[Float]): Unit = {
    slot.get(key) match {
      case Some(i) => srcs(i) = src; vecs(i) = v; alive(i) = true
      case None =>
        slot(key) = keys.length
        keys += key; srcs += src; vecs += v; alive += true
    }
    if (!livePos.contains(key)) { livePos(key) = liveList.length; liveList += key }
  }

  def remove(key: String): Unit = {
    slot.get(key).foreach(i => alive(i) = false)
    livePos.remove(key).foreach { p =>
      val last = liveList.remove(liveList.length - 1)
      if (p < liveList.length) { liveList(p) = last; livePos(last) = p }
    }
  }

  def live(key: String): Boolean = livePos.contains(key)
  def source(key: String): String = srcs(slot(key))
  def vector(key: String): Array[Float] = vecs(slot(key))
  def randomLive(rng: java.util.Random): String = liveList(rng.nextInt(liveList.length))
  def liveKeys: Iterator[String] = liveList.iterator
  def size: Int = liveList.length

  /** A copy of the live records: what an index built now holds. */
  def snapshot(): Oracle = {
    val o = new Oracle(dim)
    liveList.foreach(k => o.put(k, source(k), vector(k)))
    o
  }

  def score(v: Array[Float], q: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < dim) {
      val xi = v(i).toDouble; val yi = q(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  def scoreOf(key: String, q: Array[Float]): Option[Double] =
    slot.get(key).filter(alive).map(i => score(vecs(i), q))

  /** Exact top-k with `score >= floor` among live keys passing `allow`,
    * ordered by score descending, key ascending. */
  def topK(q: Array[Float], k: Int, floor: Double,
      allow: String => Boolean = _ => true): IndexedSeq[(String, Double)] = {
    // "better" sorts first, so the queue's head is the worst kept row
    val heap = mutable.PriorityQueue.empty[(Double, String)](
      Ordering.fromLessThan[(Double, String)]((a, b) =>
        a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)))
    var i = 0
    while (i < keys.length) {
      if (alive(i) && allow(keys(i))) {
        val s = score(vecs(i), q)
        if (s >= floor) {
          heap.enqueue((s, keys(i)))
          if (heap.size > k) heap.dequeue()
        }
      }
      i += 1
    }
    heap.toIndexedSeq.sortBy { case (s, key) => (-s, key) }.map(_.swap)
  }
}

object Oracle {
  val Tol = 1e-6
}
