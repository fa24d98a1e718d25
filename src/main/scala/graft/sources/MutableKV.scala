package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Point

/** Mutable key→blob view over the immutable point store — the reference's
  * `TimeStore.Mutable` (`lib/TimeStore/Mutable.hs`): each insert appends an
  * extended point whose time field is a per-key sequence number; reads
  * resolve to the highest sequence number per key.
  *
  * Mapping (SURVEY §2, O25-O29): storage goes to a shadow namespace (the
  * reference suffixes `_INTERNAL`, collision-proof via its no-'_' rule;
  * here the '-INTERNAL' suffix is reserved by namespace validation so the
  * shadow cannot alias a user namespace).
  * Addresses are forced odd (bit 0 set ⇒ extended, `Mutable.hs:95`); the
  * fixed 128-bucket layout (`mutableBuckets`, `StoreHelpers.hs:151-154`)
  * comes from registering the shadow namespace with 128 buckets. `lookup`
  * is `max_by(value, seq)` for one key; `enumerate` the same aggregate over
  * all keys — a hash aggregate with map-side partials, no window shuffle.
  *
  * Like the reference (`Mutable.hs:90-103` has no lock around its
  * read-modify-write), concurrent inserts to the same key may race; the
  * winner is the highest sequence number. The store's writer lease briefly
  * serializes the underlying appends, so a contending insert RETRIES the
  * write (bounded) instead of surfacing the fence to callers — without the
  * retry, routine contention would throw where this contract promises
  * last-writer-wins.
  */
object MutableKV {

  val MutableBuckets = 128  // StoreHelpers.hs:151-154

  private def shadow(n: TimeStore.Namespace): TimeStore.Namespace =
    n.copy(ns = s"${n.ns}-INTERNAL")

  private def ensure(spark: SparkSession, n: TimeStore.Namespace): TimeStore.Namespace = {
    val s = shadow(n)
    TimeStore.register(spark, s, MutableBuckets, MutableBuckets)
    s
  }

  /** Force bit 0: every mutable record is an extended point. */
  private def mutableAddress(address: Long): Long = address | 1L

  /** Insert combining with the existing value (`insertWith`,
    * `Mutable.hs:75-103`): read-modify-write with a user merge function
    * `(new, existing) => merged`; sequence number bumps by one.
    *
    * The read (current sequence / tombstone horizon), the merge, and the
    * write all run under ONE writer-lease acquisition (ADVICE r14: a read
    * outside the lease can go stale against a concurrent insert or a
    * delete-then-recreate, landing a duplicate (address, seq) record
    * whose pinned first-wins dedup silently drops one writer's merge
    * instead of resolving by highest sequence as documented). A retry
    * after lease contention therefore RE-reads and RE-merges — the
    * reference's stale-read race (`Mutable.hs:90-103` has no lock) is
    * closed for writers sharing this store, not merely resolved-by-
    * sequence. */
  def insertWith(spark: SparkSession, n: TimeStore.Namespace,
                 merge: (Array[Byte], Array[Byte]) => Array[Byte],
                 address: Long, value: Array[Byte]): Array[Byte] = {
    val s = ensure(spark, n)
    val addr = mutableAddress(address)
    // bounded retry on lease contention — any other IllegalStateException
    // (invalid namespace, rollover double-check) is fatal and must
    // surface immediately, not after 50 blind retries (ADVICE r6 low)
    var attempts = 50
    var out: Option[Array[Byte]] = None
    while (out.isEmpty) {
      try {
        out = Some(TimeStore.withWriterLease(spark, s) {
          val (seq, merged) = lookupWithSeq(spark, s, addr) match {
            case Some((prevSeq, prev)) => (prevSeq + 1, merge(value, prev))
            // a deleted key re-creates ABOVE its tombstone horizon:
            // [[delete]] suppresses seqs [0, H], so the first re-insert
            // must land at H+1 or the pending tombstone would swallow it
            // (and a vacuum racing the insert would physically remove it)
            case None => (deleteHorizon(spark, s, addr) + 1, value)
          }
          // single-object append (Mutable.hs:90-103 appends ONE rados
          // object): the driver-local write keeps the full store protocol
          // (lease held, index routing, layout, watermark) without paying
          // a distributed job's scheduling for a one-row batch
          TimeStore.writePointsLocalHeld(spark, s,
            Seq(Point(addr, seq, merged.length.toLong, merged)),
            rolloverBytes = Long.MaxValue) // fixed layout: never rolls
          merged
        })
      } catch {
        case _: TimeStore.LeaseContentionException if attempts > 0 =>
          attempts -= 1; Thread.sleep(20)
      }
    }
    out.get
  }

  /** Plain upsert (`insert`): new value wins. */
  def insert(spark: SparkSession, n: TimeStore.Namespace, address: Long,
             value: Array[Byte]): Unit =
    insertWith(spark, n, (nw, _) => nw, address, value)

  /** Point lookup (`Mutable.lookup`, `Mutable.hs:48-73`): latest blob for
    * the key, None if absent. */
  def lookup(spark: SparkSession, n: TimeStore.Namespace,
             address: Long): Option[Array[Byte]] =
    lookupWithSeq(spark, ensure(spark, n), mutableAddress(address)).map(_._2)

  private def lookupWithSeq(spark: SparkSession, shadowNs: TimeStore.Namespace,
                            addr: Long): Option[(Long, Array[Byte])] =
    // Single-object read (Mutable.lookup reads ONE rados object,
    // Mutable.hs:48-73): the driver-local pruned read shares readExtended's
    // targetObjs planner and exact contract (pinned dedup, unsigned order — the
    // result arrives sorted by unsigned time, so `last` IS the unsigned
    // max, Core.hs:232-243 / VERDICT r2 #2) without scheduling a Spark job
    // for a point-get.
    TimeStore.readExtendedLocal(spark, shadowNs, 0L, -1L /* maxBound */, Seq(addr))
      .lastOption.map(p => (p.time, p.value))

  /** Full scan (`enumerate`, `Mutable.hs:105-119`): latest value per key,
    * streamed as a DataFrame `(address, seq, value)`. */
  def enumerate(spark: SparkSession, n: TimeStore.Namespace): DataFrame = {
    val s = ensure(spark, n)
    TimeStore.latestPerAddress(spark, s, "extended")
      .select(col("address"), col("time").as("seq"), col("value"))
      .orderBy(col("address"))
  }

  /** Remove a key from the mutable view — the KV arm of the store
    * takedown path (the reference's KV is append-only; this is the
    * engine's LLM-pipeline mandate, exactly like the index families'
    * deletes): ALL of the key's sequence records tombstone in the shadow
    * namespace over [0, current seq] via [[TimeStore.deletePoints]], so
    * [[lookup]] turns None and [[enumerate]] drops the key immediately;
    * [[vacuum]] folds the tombstones in physically. A later
    * [[insertWith]] re-creates the key above the tombstone horizon.
    * No-op for an absent key. */
  def delete(spark: SparkSession, n: TimeStore.Namespace,
             address: Long): Unit = {
    val s = ensure(spark, n)
    val addr = mutableAddress(address)
    // bounded retry on lease contention, like [[insertWith]]: a takedown
    // racing routine KV writes queues behind them. The horizon read and
    // the tombstone write share ONE lease acquisition — a horizon read
    // outside the lease can go stale against a concurrent insert, whose
    // higher-sequence record would survive the "completed" takedown.
    var attempts = 50
    var done = false
    while (!done) {
      try {
        TimeStore.withWriterLease(spark, s) {
          lookupWithSeq(spark, s, addr).foreach { case (seq, _) =>
            TimeStore.deletePointsHeld(spark, s, Seq(addr), 0L, seq)
          }
        }
        done = true
      } catch {
        case _: TimeStore.LeaseContentionException if attempts > 0 =>
          attempts -= 1; Thread.sleep(20)
      }
    }
  }

  /** Fold the mutable view's pending key deletions in physically —
    * [[TimeStore.vacuumDeletes]] on the shadow namespace. */
  def vacuum(spark: SparkSession, n: TimeStore.Namespace): Unit =
    TimeStore.vacuumDeletes(spark, ensure(spark, n))

  /** Highest tombstoned sequence for a key (0 when none pending) — the
    * floor a re-created key's first sequence number must clear. */
  private def deleteHorizon(spark: SparkSession,
                            shadowNs: TimeStore.Namespace,
                            addr: Long): Long = {
    val triples = TimeStore.deleteMask(spark, shadowNs).triples
    var h = 0L
    var i = 0
    while (i < triples.length) {
      if (triples(i) == addr &&
          java.lang.Long.compareUnsigned(triples(i + 2), h) > 0)
        h = triples(i + 2)
      i += 3
    }
    h
  }
}
