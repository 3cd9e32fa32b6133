package graft

import org.scalacheck.{Gen, Prop, Properties}
import scala.collection.mutable

/** Property-based differential test of the GDFS cache: arbitrary op
  * sequences are replayed against an INDEPENDENT naive model of the
  * published policy (reference: src/lib/cache/gdfs_cache.hpp — priority =
  * inflation + frequency/size, evict the minimum, raise inflation to the
  * evicted priority; first-inserted wins priority ties, matching the
  * implementation's insertion-ordered min scan). The model is written
  * from the policy description, not from GdfsCache.scala, so a divergence
  * in either shows up as a shrunk counterexample op sequence.
  */
object GdfsCachePropertySpec extends Properties("GdfsCache") {

  sealed trait Op
  final case class Put(k: Int, v: Int, size: Double) extends Op
  final case class GetOp(k: Int) extends Op

  /** Naive reference model: a plain list of entries, full recompute, linear
    * min scans — no shared structure with the production implementation. */
  private final class Model(var capacity: Int) {
    final case class E(k: Int, var v: Int, var freq: Long, size: Double,
                       var prio: Double, insertSeq: Long)
    var entries: List[E] = Nil
    var inflation = 0.0
    private var seq = 0L

    def get(k: Int): Option[Int] = entries.find(_.k == k).map { e =>
      e.freq += 1; e.prio = inflation + e.freq.toDouble / e.size; e.v
    }

    def put(k: Int, v: Int, size: Double): Unit = {
      if (capacity == 0) return
      entries.find(_.k == k) match {
        case Some(e) =>
          e.v = v; e.freq += 1; e.prio = inflation + e.freq.toDouble / e.size
        case None =>
          if (entries.size >= capacity) evict()
          seq += 1
          entries = entries :+ E(k, v, 1L, size, inflation + 1.0 / size, seq)
      }
    }

    private def evict(): Unit = {
      // min priority; ties broken by earliest insertion (LinkedHashMap order)
      val victim = entries.minBy(e => (e.prio, e.insertSeq))
      inflation = victim.prio
      entries = entries.filterNot(_ eq victim)
    }

    def keysAndFreqs: Seq[(Int, Long)] = entries.map(e => (e.k, e.freq))
  }

  private val genOp: Gen[Op] = Gen.frequency(
    3 -> (for {
      k <- Gen.choose(0, 9)
      v <- Gen.choose(0, 1000)
      s <- Gen.oneOf(1.0, 1.0, 2.0, 4.0) // size=1 dominant, as in the plan caches
    } yield Put(k, v, s)),
    2 -> Gen.choose(0, 9).map(GetOp(_)))

  property("matches the naive policy model on arbitrary op sequences") =
    Prop.forAll(Gen.choose(1, 6), Gen.listOfN(120, genOp)) { (cap, ops) =>
      val cache = new GdfsCache[Int, Int](cap)
      val model = new Model(cap)
      val diverged = mutable.Buffer.empty[String]
      ops.foreach {
        case Put(k, v, s) => cache.put(k, v, s); model.put(k, v, s)
        case GetOp(k) =>
          val (a, b) = (cache.get(k), model.get(k))
          if (a != b) diverged += s"get($k): cache=$a model=$b"
      }
      val (cs, ms) = (cache.snapshot().sortBy(_._1), model.keysAndFreqs.sortBy(_._1))
      Prop(diverged.isEmpty && cs == ms && cache.size <= cap) :| {
        s"divergences=$diverged cacheSnapshot=$cs modelSnapshot=$ms"
      }
    }

  property("size never exceeds capacity") =
    Prop.forAll(Gen.choose(0, 5), Gen.listOfN(60, genOp)) { (cap, ops) =>
      val cache = new GdfsCache[Int, Int](cap)
      ops.forall { op =>
        op match {
          case Put(k, v, s) => cache.put(k, v, s)
          case GetOp(k) => cache.get(k)
        }
        cache.size <= cap
      }
    }
}
