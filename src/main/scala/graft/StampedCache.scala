package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The one per-version cache every reuse point in graft goes through:
  * parsed artifacts, pinned stages, staged index dirs, audit rows.
  *
  * A value is keyed on (owner, stamp, params). `owner` names what the
  * value is derived from (usually a corpus or artifact path), `stamp`
  * is that owner's version ([[Tables.pathStamp]], computed by the
  * caller) and `params` the build parameters. Every call first evicts
  * the owner's entries under any OTHER stamp — a rewritten corpus
  * supersedes everything built from its old version — and hands each
  * evicted value to `onEvict` exactly once (unpin a checkpoint, reap a
  * staged dir). Nothing is evicted by size: a current version's pins
  * stay until the version is replaced (the invariant
  * [[Tables.unpinCheckpoint]] relies on).
  *
  * Each key is built at most once, even when first calls race: the map
  * holds one slot per key and the build runs under that slot's monitor
  * only, so builds of different keys never wait on each other and a
  * build may itself call into the same cache for another key. A build
  * that throws leaves no entry; the next call builds afresh. */
final class StampedCache[P, V](onEvict: V => Unit = (_: V) => ()) {

  private final class Slot {
    @volatile var built = false
    var value: V = _
  }

  private val slots = new ConcurrentHashMap[(String, Long, P), Slot]()

  def apply(owner: String, stamp: Long, params: P)(build: => V): V = {
    // a superseded slot still mid-build is left for the next call: its
    // value does not exist yet, so there is nothing to evict
    slots.forEach { (k, s) =>
      if (k._1 == owner && k._2 != stamp && s.built && slots.remove(k, s))
        onEvict(s.value)
    }
    val key = (owner, stamp, params)
    var out: Option[V] = None
    while (out.isEmpty) {
      val s = slots.computeIfAbsent(key, _ => new Slot)
      s.synchronized {
        if (s.built) out = Some(s.value)
        // else a failed build dropped this slot while we waited on it:
        // loop onto a fresh one
        else if (slots.get(key) eq s) {
          try s.value = build
          catch { case e: Throwable => slots.remove(key, s); throw e }
          s.built = true
          out = Some(s.value)
        }
      }
    }
    out.get
  }

  /** Built values currently held (spec hook). */
  def values: Iterable[V] =
    slots.values.asScala.filter(_.built).map(_.value).toSeq

  /** Drop every entry, each built value through `onEvict` (spec hook:
    * simulates a fresh JVM). */
  def clear(): Unit =
    slots.forEach { (k, s) =>
      if (slots.remove(k, s) && s.built) onEvict(s.value)
    }
}
