package graft.mapreduce

import org.apache.spark.sql.{Dataset, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Reference-parity facade: the generic client-extensible
  * map → group-by-key → reduce dataflow of the reference engine
  * (`MapReduceClient.h:55-65`, `MapReduceFramework.h:18-24`), re-expressed
  * on the typed Dataset API.
  *
  * Semantics follow the reference's *documented* contract — reduce sees a
  * key with ALL of its values exactly once (`MapReduceClient.h:61-62`) —
  * not its fragmenting-shuffle quirk (`MapReduceFramework.cpp:133-162`),
  * which Spark's groupByKey fixes for free. Thread/barrier machinery
  * (`Barrier.cpp`, pthread pools) maps onto Spark's task scheduler and
  * stage boundaries and needs no code here.
  */
object MapReduce {

  /** General form — `map` may emit 0..n (K,V) pairs per input (emit2), and
    * `reduce` may emit 0..n outputs per key group (emit3).
    *
    * Scale note: this shuffles every intermediate pair (no combiner), which
    * is what the reference does. Prefer [[mapReduceAgg]] when the reduce is
    * an associative fold.
    */
  def mapReduce[I, K, V, O](input: Dataset[I])(
      mapFn: I => IterableOnce[(K, V)])(
      reduceFn: (K, Iterator[V]) => IterableOnce[O])(
      implicit kvEnc: Encoder[(K, V)], kEnc: Encoder[K], oEnc: Encoder[O]): Dataset[O] =
    input
      .mapPartitions(new MapSide(mapFn))
      .groupByKey(new KeyOf[K, V])
      .flatMapGroups(new ReduceSide(reduceFn))

  /** Aggregating form — the combiner the reference lacks: an associative
    * fold runs map-side (partial aggregation) before the shuffle, so only
    * one partial value per (key, partition) moves. Returns (key, result).
    */
  def mapReduceAgg[I, K, V, B, O](input: Dataset[I])(
      mapFn: I => IterableOnce[(K, V)])(
      z: B)(seq: (B, V) => B)(comb: (B, B) => B)(fin: B => O)(
      implicit kvEnc: Encoder[(K, V)], kEnc: Encoder[K], bEnc: Encoder[B],
      oEnc: Encoder[O], koEnc: Encoder[(K, O)]): Dataset[(K, O)] = {
    val agg = new Aggregator[(K, V), B, O] {
      override def zero: B = z
      override def reduce(b: B, a: (K, V)): B = seq(b, a._2)
      override def merge(b1: B, b2: B): B = comb(b1, b2)
      override def finish(b: B): O = fin(b)
      override def bufferEncoder: Encoder[B] = bEnc
      override def outputEncoder: Encoder[O] = oEnc
    }
    input.mapPartitions(new MapSide(mapFn)).groupByKey(new KeyOf[K, V]).agg(agg.toColumn)
  }

  // The facade's functions as named classes. A plan prints a function
  // argument by its toString, and a JDK lambda's carries a hidden-class
  // address that differs on every run, so plan text could not be
  // compared across runs.

  private final class MapSide[I, K, V](f: I => IterableOnce[(K, V)])
      extends (Iterator[I] => Iterator[(K, V)]) with Serializable {
    def apply(in: Iterator[I]): Iterator[(K, V)] = in.flatMap(f)
    override def toString: String = "MapReduce.map"
  }

  private final class KeyOf[K, V] extends (((K, V)) => K) with Serializable {
    def apply(kv: (K, V)): K = kv._1
    override def toString: String = "MapReduce.key"
  }

  private final class ReduceSide[K, V, O](f: (K, Iterator[V]) => IterableOnce[O])
      extends ((K, Iterator[(K, V)]) => IterableOnce[O]) with Serializable {
    def apply(k: K, group: Iterator[(K, V)]): IterableOnce[O] = f(k, group.map(_._2))
    override def toString: String = "MapReduce.reduce"
  }
}
