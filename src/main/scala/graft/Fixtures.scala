package graft

import java.util.concurrent.ConcurrentHashMap

/** The one per-process registry of standing fixtures: indexes, stores,
  * catalogs and replay stages that a query builds once and then reads
  * on every later run (Bench repeats each query, and sibling queries
  * share one index). A fixture is a path, keyed by a fixture name plus
  * a key — the sf dir, or the sf dir and query for per-query stages.
  *
  * Builds may call [[once]] for another fixture (a catalog build that
  * stages its own replay), so the map's `computeIfAbsent` only inserts
  * a holder and the build runs outside the map lock: a nested
  * `computeIfAbsent` on the same map is illegal and can throw
  * `IllegalStateException: Recursive update`. Concurrent callers of one
  * key share the holder's lazy build and run it once. A build that
  * throws leaves nothing behind, so the next caller builds again.
  */
private[graft] object Fixtures {
  private final class Holder(build: () => String) {
    lazy val path: String = build()
  }

  private val built = new ConcurrentHashMap[(String, String), Holder]()

  def once(name: String, key: String)(build: => String): String = {
    val k = (name, key)
    val h = built.computeIfAbsent(k, _ => new Holder(() => build))
    try h.path
    catch { case e: Throwable => built.remove(k, h); throw e }
  }
}
