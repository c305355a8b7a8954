package graft.sources

import org.apache.spark.sql.{Dataset, GraftBridge, SparkSession}

/** The engine's one store of per-session state — the Spark analogue of
  * the reference's dbt `star` model, built once and read by every
  * downstream model (`README.md:349-395`). Every checkpointed corpus
  * frame (documents fan-out, tokens, shingles, cosine bands, span
  * grams), derived graph (co-purchase edges, components, canonical
  * maps), trained statistic (centroids, codebooks, rotation, PCA axis,
  * BPE merges, span length) and one-time materialization (star
  * snapshots, bucketed fact tables) is an entry here, under one policy:
  *
  *  - key: (session UUID, dir, tag). The UUID string, not the
  *    `SparkSession`, so no key holds a stopped session; the tag names
  *    the value and its parameters;
  *  - validity: an entry records the [[Tables.tableFingerprint]] of each
  *    table it was built from, and a call whose tables fingerprint
  *    differently rebuilds it — a rewritten source is never served
  *    stale, on any filesystem scheme;
  *  - supersede: installing a rebuilt entry also evicts the session's
  *    entries (any tag, same dir) built from an older version of one of
  *    its tables;
  *  - first build: `build` runs outside any map operation and the race
  *    is settled with `putIfAbsent` — a losing builder releases its own
  *    value and adopts the winner's (a plain `getOrElseUpdate` on a
  *    TrieMap may run the thunk on several threads and keep every
  *    loser's checkpoint pinned);
  *  - release: a `DataFrame` value (an eager `localCheckpoint`) that is
  *    superseded, loses a race or is cleared goes through
  *    `GraftBridge.releaseLocalCheckpoint`, so its blocks (order
  *    100 MB – 1 GB each) are dropped at once, not when the GC gets to
  *    the handle;
  *  - bound: past [[MaxDriverValues]] driver-side (non-frame) entries,
  *    all driver-side entries are dropped — they are re-derivable and
  *    no result depends on a hit. A pinned frame is never dropped by
  *    the bound: forgetting its handle would leak its blocks.
  *
  * Nothing outlives the JVM. [[clear]] releases everything, for callers
  * (tests) that must see a genuine rebuild. */
private[graft] object SessionCache {

  private final case class Key(session: String, dir: String, tag: String)

  /** Compared by reference on purpose: `replace`/`remove` must match the
    * entry that was read, not a structurally equal copy. */
  private final class Entry(val fingerprints: Map[String, String],
      val value: Any)

  private val entries = scala.collection.concurrent.TrieMap.empty[Key, Entry]
  private val MaxDriverValues = 512

  /** The cached value of `tag` over `tables` of `dir` in this session,
    * built by `build` on a miss or when a table changed since it was
    * built. */
  def getOrBuild[T](spark: SparkSession, dir: String, tables: Seq[String],
      tag: String)(build: => T): T =
    getOrBuildListed(spark, dir,
      tables.map(t => t -> Tables.tableFingerprint(Tables.listing(spark, dir, t)))
        .toMap, tag)(build)

  /** [[getOrBuild]] for a caller that has already listed its tables
    * ([[Tables.documents]] sizes its fan-out from the same listing). */
  private[sources] def getOrBuildListed[T](spark: SparkSession, dir: String,
      fingerprints: Map[String, String], tag: String)(build: => T): T = {
    val key = Key(GraftBridge.sessionUUID(spark), dir, tag)
    entries.get(key) match {
      case Some(e) if e.fingerprints == fingerprints => e.value.asInstanceOf[T]
      case _ => settle(key, new Entry(fingerprints, build)).asInstanceOf[T]
    }
  }

  @annotation.tailrec
  private def settle(key: Key, fresh: Entry): Any = entries.get(key) match {
    case Some(cur) if cur.fingerprints == fresh.fingerprints =>
      release(fresh.value) // lost the first-build race
      cur.value
    case Some(cur) =>
      if (entries.replace(key, cur, fresh)) {
        release(cur.value)
        installed(key, fresh)
      } else settle(key, fresh)
    case None =>
      if (entries.putIfAbsent(key, fresh).isEmpty) installed(key, fresh)
      else settle(key, fresh)
  }

  private def installed(key: Key, fresh: Entry): Any = {
    def older(e: Entry) = e.fingerprints.exists { case (t, fp) =>
      fresh.fingerprints.get(t).exists(_ != fp)
    }
    entries.foreach { case (k, e) =>
      if (k != key && k.session == key.session && k.dir == key.dir &&
          older(e) && entries.remove(k, e)) release(e.value)
    }
    if (!fresh.value.isInstanceOf[Dataset[_]]) {
      val driverSide = entries.filter(!_._2.value.isInstanceOf[Dataset[_]])
      if (driverSide.size > MaxDriverValues)
        driverSide.foreach { case (k, e) => entries.remove(k, e) }
    }
    fresh.value
  }

  private def release(value: Any): Unit = value match {
    case ds: Dataset[_] => GraftBridge.releaseLocalCheckpoint(ds.toDF())
    case _ => ()
  }

  /** Release every pinned checkpoint and forget every entry, of every
    * session. */
  def clear(): Unit =
    entries.foreach { case (k, e) => if (entries.remove(k, e)) release(e.value) }
}
