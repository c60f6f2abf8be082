package graft.model

import java.nio.file.Paths
import java.util.concurrent.{CompletableFuture, CompletionException}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SizeEstimator

/** Driver-held memo for trained models: a model trained once per corpus
  * is served to every later caller from driver memory, so queries that
  * share a training pass (the CF lists, the tokenizers, the centroids...)
  * pay it once per JVM instead of once per query.
  *
  *  - Key: (model, source table path, tag). An entry remembers the
  *    [[graft.io.Fingerprint.ofRefreshing]] value it was trained on; a
  *    changed fingerprint (the table rewritten in place) retrains and
  *    REPLACES the entry, so a stale model is never served.
  *  - Single-flight: one training per key, concurrent callers wait on the
  *    trainer's future. The map lock is never held while training, so a
  *    trainer may build Spark plans and call other keys. A failed
  *    training is not cached; the next call retrains.
  *  - Bounds: every entry is sized with `SizeEstimator` and all share
  *    `budgetBytes`, least recently used evicted first. An entry over
  *    `capBytes` is declined: served to its caller uncached, and the key
  *    remembers the decline so later calls recompute without retrying.
  *  - Counters per model: hits, misses (trainings), declines, evictions.
  */
final class ModelMemo(val budgetBytes: Long, val capBytes: Long) {
  require(capBytes <= budgetBytes, "entry cap must fit in the budget")
  import ModelMemo.{Entry, Key, Stats}

  // All state below is guarded by `this`. Access order: iteration starts
  // at the least recently used entry.
  private val entries = new java.util.LinkedHashMap[Key, Entry](16, 0.75f, true)
  private var total = 0L
  private val counts = scala.collection.mutable.Map.empty[String, Stats]

  private def count(model: String)(f: Stats => Stats): Unit =
    counts(model) = f(counts.getOrElse(model, Stats(0, 0, 0, 0)))

  /** Counters per model name. */
  def stats: Map[String, Stats] = synchronized(counts.toMap)

  /** Bytes currently held, summed over stored entries. */
  def bytes: Long = synchronized(total)

  /** A model value (tokenizer tables, rocchio weights): `train` runs on a
    * miss and, for a declined key, on every call.
    */
  def value[T <: AnyRef](model: String, sfDir: String, table: String,
      tag: String = "")(train: => T): T =
    serve[T, T](model, sfDir, table, tag)(
      { val t = train; (t, Some(t)) }, identity, train)

  /** A model frame (CF lists, truth pairs, centroids), kept as (schema,
    * rows) and rebuilt with `createDataFrame`. The cap is checked as
    * count × `schema.defaultSize` on the cached build before anything is
    * collected; a declined build is served cached, later calls rebuild
    * `build` uncached.
    */
  def frame(spark: SparkSession, model: String, sfDir: String,
      table: String, tag: String = "")(build: => DataFrame): DataFrame = {
    def rebuild(s: (StructType, Array[Row])): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(s._2: _*), s._1)
    serve[(StructType, Array[Row]), DataFrame](model, sfDir, table, tag)({
      val built = build.cache()
      if (built.count() * built.schema.defaultSize > capBytes) (built, None)
      else {
        val stored = (built.schema, built.collect())
        built.unpersist()
        (rebuild(stored), Some(stored))
      }
    }, rebuild, build)
  }

  /** `train` yields what this call returns and what to keep; `stored`
    * turns a kept value into a result; `uncached` serves a declined key.
    * A trainer must not call its own key (it would wait on itself).
    */
  private def serve[V <: AnyRef, R](model: String, sfDir: String,
      table: String, tag: String)(train: => (R, Option[V]),
      stored: V => R, uncached: => R): R = {
    val key = Key(model, Paths.get(sfDir, s"$table.parquet").toString, tag)
    val fp = graft.io.Fingerprint.ofRefreshing(sfDir, table)
    val (e, owner) = synchronized {
      val live = entries.get(key)
      if (live != null && live.fp == fp) {
        val declined = live.result.isDone && live.result.join().isEmpty
        count(model)(s => if (declined) s.copy(declines = s.declines + 1)
          else s.copy(hits = s.hits + 1))
        (live, false)
      } else {
        if (live != null) total -= live.bytes // stale fingerprint: replaced
        entries.put(key, new Entry(fp))
        count(model)(s => s.copy(misses = s.misses + 1))
        (entries.get(key), true)
      }
    }
    if (!owner) {
      val kept = try e.result.join() catch {
        case c: CompletionException => throw c.getCause
      }
      kept.fold(uncached)(v => stored(v.asInstanceOf[V]))
    } else {
      val (out, kept) = try train catch {
        case t: Throwable =>
          synchronized(if (entries.get(key) eq e) entries.remove(key))
          e.result.completeExceptionally(t)
          throw t
      }
      settle(key, e, kept)
      out
    }
  }

  /** Size the trained value, keep it or decline it, evict least recently
    * used entries down to the budget, then release the waiters.
    */
  private def settle(key: Key, e: Entry, kept: Option[AnyRef]): Unit = {
    val sized = kept.map(v => (v, SizeEstimator.estimate(v)))
      .filter(_._2 <= capBytes)
    synchronized {
      if (sized.isEmpty) count(key.model)(s => s.copy(declines = s.declines + 1))
      else if (entries.get(key) eq e) {
        e.bytes = sized.get._2
        total += e.bytes
        entries.entrySet().removeIf { old =>
          val v = old.getValue
          val evict = total > budgetBytes && (v ne e) && v.bytes > 0
          if (evict) {
            total -= v.bytes
            count(old.getKey.model)(s => s.copy(evictions = s.evictions + 1))
          }
          evict
        }
      }
    }
    e.result.complete(sized.map(_._1))
  }
}

object ModelMemo {
  final case class Stats(hits: Long, misses: Long, declines: Long,
      evictions: Long)

  private final case class Key(model: String, path: String, tag: String)

  /** One training; the future holds None when the result was declined. */
  private final class Entry(val fp: String) {
    val result = new CompletableFuture[Option[AnyRef]]
    var bytes = 0L
  }

  /** Driver budget over all models: four capped entries. The whole
    * registry's models (14 entries at sf0.1) measured 0.3 MB, so a bench
    * pass evicts nothing.
    */
  val BudgetBytes: Long = 512L << 20

  /** Largest single model kept. Collected rows cost ~156 bytes per CF
    * list row (four longs) and ~100 per truth pair, so this keeps about
    * 0.86M list rows or 1.3M pairs — the reach of the old one-million-row
    * fences.
    */
  val CapBytes: Long = 128L << 20

  /** The process-wide memo every job serves its trained models from. */
  val shared = new ModelMemo(BudgetBytes, CapBytes)
}
