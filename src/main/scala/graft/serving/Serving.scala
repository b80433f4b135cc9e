package graft.serving

import scala.collection.concurrent.TrieMap
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row}

/** In-process serving layer — the reference's online-store + serving surface
  * (O1-O6, serving/serving.go, provider/online.go:43-54) collapsed into one
  * JVM:
  *
  *  - O1 point lookup over a [[KvBackend]]. The default backend is the
  *    partition-backed [[DiskKv]], so the DEFAULT load path is the K9
  *    chunked copy: each partition streams its rows executor-side and the
  *    driver never holds the materialization. [[InProcessKv]] remains the
  *    explicit small-corpus special case (collect-loaded driver map).
  *  - O2 row assembly across features, O3 on-demand (request-time) Scala
  *    closures, O4 vector nearest-neighbor, O5 training-set iterator with
  *    repeat/shuffle/batch, O6 source preview.
  */
final class OnlineStore(backend: KvBackend = OnlineStore.defaultBackend()) {

  private val onDemand = TrieMap.empty[String, (Map[String, Any], Seq[Any]) => Any]

  /** K9/K10 equivalent: copy a materialization (entity, value) into the
    * online table for `feature`. [[ExecutorBackend]]s (the default
    * [[DiskKv]], any network KV) load partition-streamed via
    * [[OnlineBulkLoad.bulkLoad]] — no driver materialization at any scale.
    * Backends without an executor-side client (the in-process map) take
    * the driver `collect` path, correct only for corpora that fit. */
  def load(feature: String, materialized: DataFrame,
           entityCol: String = "entity", valueCol: String = "value"): Unit = {
    backend.createTable(feature)
    backend match {
      case eb: ExecutorBackend =>
        OnlineBulkLoad.bulkLoad(eb.clientFactory, feature, materialized,
          entityCol, valueCol)
      case _ =>
        backend.putBatch(feature, materialized.select(entityCol, valueCol)
          .collect().iterator.map(r => r.get(0) -> r.get(1)))
    }
  }

  /** Vector tables ride the same backend path (same streaming-load rule);
    * values are stored as the row's array payload and decoded on scan. */
  def loadVectors(feature: String, df: DataFrame,
                  entityCol: String = "entity", vecCol: String = "vector"): Unit =
    load(vecTable(feature), df, entityCol, vecCol)

  private def vecTable(feature: String): String =
    OnlineStore.vectorTable(feature)

  /** Streaming-index upkeep: apply a micro-batch's (id, vector) deltas to
    * an already-built [[VectorIndex]] (no-op before [[buildIndex]] — the
    * scan path reads the backend directly, so it is always current). The
    * BACKEND writes ride [[graft.streaming.StreamingOnline.vectorSink]]'s
    * partition-side path; this is the in-process changelog consumer
    * (batch-delta-sized, never corpus-sized). */
  def applyIndexDeltas(feature: String,
                       rows: Iterator[(Any, Array[Float])]): Unit =
    indexes.get(feature).foreach(idx =>
      rows.foreach { case (id, v) => idx.upsert(id, v) })

  private def toFloats(v: Any): Array[Float] = v match {
    case a: Array[Float] => a
    case s: scala.collection.Seq[_] =>
      val out = new Array[Float](s.length)
      var i = 0
      s.foreach { x => out(i) = x.asInstanceOf[Float]; i += 1 }
      out
    case other => throw new IllegalArgumentException(
      s"not a float vector: ${other.getClass}")
  }

  def registerOnDemand(feature: String,
                       fn: (Map[String, Any], Seq[Any]) => Any): Unit =
    onDemand.put(feature, fn)

  private val onDemandExprs = TrieMap.empty[String, OnDemandExprEval]

  /** Register the DURABLE on-demand form — a SQL expression string (the
    * serving-side twin of [[graft.catalog.OnDemandVariant]], reference
    * metadata.proto:326-328) over named request params AND the entity's
    * precomputed feature values. Reference on-demand functions receive
    * `(client, params, entities)` (serving.py:236-241) — `inputs` declares
    * exactly which of those names (and types) the expression reads.
    * Compiled once (parse + analyze + bind); evaluated per request with no
    * Spark job — see [[OnDemandExprEval]]. */
  def registerOnDemandExpr(spark: org.apache.spark.sql.SparkSession,
                           feature: String, expr: String,
                           inputs: org.apache.spark.sql.types.StructType): Unit =
    onDemandExprs.put(feature,
      OnDemandExprEval.compile(spark, feature, expr, inputs))

  /** O1: point lookup (the gRPC FeatureServe body at the wire seam). */
  def get(feature: String, entity: Any): Option[Any] =
    backend.get(feature, entity)

  /** Load a materialization WITH its event timestamps, so reads can apply
    * a serving-side TTL — the online twin of the training-side
    * `FeatureSide.maxAgeSeconds` staleness bound (Feast online-expiry
    * role): online and offline freshness rules agree by construction.
    * Values are stored as (value, epoch-ms) structs through the normal
    * (partition-streamed) load path. */
  def loadWithTs(feature: String, materialized: DataFrame,
                 entityCol: String = "entity", valueCol: String = "value",
                 tsCol: String = "ts"): Unit = {
    import org.apache.spark.sql.functions.{col, struct, unix_millis}
    load(feature, materialized.select(col(entityCol),
      struct(col(valueCol).as("v"), unix_millis(col(tsCol)).as("t"))
        .as("value")), entityCol, "value")
  }

  /** Streaming point upsert under the latest-value rule: the write lands
    * only when `tsMs` is at-or-after the stored timestamp (out-of-order
    * stream messages can't regress a value — the same newest-wins fold
    * the batch MERGE and streaming sinks apply). Stores the (v, t)
    * struct shape [[loadWithTs]] uses, so TTL reads and serving work
    * unchanged. Returns whether the write landed. */
  def upsertWithTs(feature: String, entity: Any, value: Any,
                   tsMs: Long): Boolean = synchronized {
    val newer = backend.get(feature, entity) match {
      case Some(r: Row) if r.length == 2 => tsMs >= r.getLong(1)
      case Some(_) => true
      case None => true
    }
    if (newer)
      backend.putBatch(feature, Iterator(entity -> Row(value, tsMs)))
    newer
  }

  /** TTL point lookup over a [[loadWithTs]] table: None when the stored
    * value is older than `maxAgeMs` as of `asOfMs`. `asOfMs` is
    * caller-supplied (the request handler's clock) — the store itself
    * stays deterministic and testable. Boundary is inclusive, matching
    * the as-of join's TTL mask. */
  def getFresh(feature: String, entity: Any, maxAgeMs: Long,
               asOfMs: Long): Option[Any] =
    backend.get(feature, entity).flatMap { raw =>
      val r = raw.asInstanceOf[Row]
      if (asOfMs - r.getLong(1) <= maxAgeMs) Some(r.get(0)) else None
    }

  /** O2/O3: assemble a serving row; on-demand features are computed at
    * request time from params + the already-resolved precomputed values
    * (passed in `names` order — NOT map order, which is hash-dependent
    * beyond 4 entries). */
  def features(names: Seq[String], entity: Any,
               params: Map[String, Any] = Map.empty): Seq[Option[Any]] = {
    val pre = names.map(n => n -> get(n, entity))
    val preValues = pre.flatMap(_._2)
    val preMap = pre.toMap
    // named inputs for expression-form on-demand features, in the
    // documented precedence: request params WIN over same-named requested
    // features (right operand of ++ wins), which win over store lookups;
    // "entity" is always the entity id (pinned last, same as the closure
    // form below — a param cannot shadow it)
    lazy val named: Map[String, Any] =
      pre.collect { case (n, Some(v)) => n -> v }.toMap ++
        params + ("entity" -> entity)
    names.map { n =>
      onDemand.get(n) match {
        case Some(fn) => Some(fn(params + ("entity" -> entity), preValues))
        case None => onDemandExprs.get(n) match {
          case Some(ev) =>
            // resolve declared inputs the request didn't carry with point
            // lookups — the `client` role of the reference's on-demand
            // signature (serving.py:236-241): params win, then requested
            // features, then the store itself
            val resolved = ev.inputNames.filterNot(named.contains)
              .flatMap(in => get(in, entity).map(in -> _))
            Option(ev(named ++ resolved))
          case None     => preMap(n)
        }
      }
    }
  }

  /** Right-to-erasure across the online tables: point-delete `entity`
    * from each named feature — tombstoned on append-only backends
    * ([[DiskKv]]; physically dropped at the next `compact`), removed
    * directly where the backend supports it. The offline half is
    * [[graft.sources.Writers.scrubLatest]] + `gcVersions`. */
  def forget(entity: Any, features: Seq[String]): Unit =
    features.foreach(f => backend.delete(f, entity))

  /** B3 batch feature serve (reference serving/serving.go:716-761): stream
    * one row per entity present in ANY of the named precomputed tables
    * (first-seen order across names, deduplicated), each row assembled
    * exactly like [[features]] — on-demand features compute per entity.
    * The dedup set is entity-count-bounded driver memory on THIS serving
    * node; batch serving streams the whole store by definition, so the
    * key set is the floor of what any implementation must touch. */
  def batchRows(names: Seq[String],
                params: Map[String, Any] = Map.empty): Iterator[(Any, Seq[Option[Any]])] = {
    val precomputed =
      names.filterNot(n => onDemand.contains(n) || onDemandExprs.contains(n))
    val seen = scala.collection.mutable.HashSet.empty[Any]
    precomputed.iterator
      .flatMap(n => backend.scan(n).map(_._1))
      .filter(seen.add)
      .map(e => e -> features(names, e, params))
  }

  private val indexes = TrieMap.empty[String, VectorIndex]

  /** Build the serving ANN index ([[VectorIndex]], multi-probe hyperplane
    * LSH) over an already-loaded vector table — the Redis-HNSW role.
    * `nearest` automatically uses it once built. `numPlanes <= 0` (the
    * default) applies the corpus-sized operating rule
    * ([[OnlineStore.planesForCorpus]]) instead of a pinned constant —
    * same policy shift as the batch side's √n nlist: the scaling rule is
    * the default, explicit sizing the opt-in. */
  def buildIndex(feature: String, numPlanes: Int = 0): Unit = {
    // two passes over the backend scan (a cheap counting pass to size the
    // planes, then a streaming add) so peak memory is ONE copy of the
    // store — materializing the scan to size it would transiently hold
    // every vector twice on the serving node
    val planes =
      if (numPlanes > 0) numPlanes
      else {
        var n = 0L
        val it = backend.scan(vecTable(feature))
        while (it.hasNext) { it.next(); n += 1 }
        OnlineStore.planesForCorpus(n)
      }
    val idx = new VectorIndex(planes)
    backend.scan(vecTable(feature))
      .foreach { case (id, v) => idx.add(id, toFloats(v)) }
    indexes.put(feature, idx)
  }

  /** O4: cosine nearest neighbors over a loaded vector table — indexed
    * (multi-probe LSH) when [[buildIndex]] has run, linear scan otherwise
    * (the batch-scale path is [[graft.functions.Vectors.annTopK]]). */
  def nearest(feature: String, query: Array[Float], k: Int): Seq[(Any, Double)] =
    indexes.get(feature) match {
      case Some(idx) => idx.nearest(query, k)
      case None      => nearestScan(feature, query, k)
    }

  private def nearestScan(feature: String, query: Array[Float], k: Int): Seq[(Any, Double)] = {
    val qn = math.sqrt(query.map(x => x.toDouble * x).sum)
    backend.scan(vecTable(feature)).map { case (e, raw) =>
      val v = toFloats(raw)
      var dot = 0.0; var nv = 0.0
      var i = 0
      while (i < v.length) { dot += v(i).toDouble * query(i); nv += v(i).toDouble * v(i); i += 1 }
      e -> (if (nv == 0 || qn == 0) 0.0 else dot / (math.sqrt(nv) * qn))
      // numeric-aware tie-break shared with the indexed path: the oracle's
      // ORDER BY neighbor_id on integer ids puts 2 before 10, which plain
      // string order inverts on an exact cosine tie
    }.toSeq.sortBy { case (e, s) => (-s, VectorIndex.idTieKey(e)) }.take(k)
  }
}

object OnlineStore {
  /** Backend table name of a feature's vector side — shared with the
    * streaming vector sink so both write/read the same table. */
  def vectorTable(feature: String): String = "__vec__" + feature

  /** LSH plane count for an n-vector corpus: 2^planes buckets sized for
    * ~40 vectors per exact-signature bucket (the multi-probe sweet spot —
    * enough candidates per probe for the rerank, few enough that a probe
    * stays cheap), clamped to [8, 24]. Fewer planes than 8 collapses
    * clusters together on tiny corpora; more than 24 fragments buckets
    * past what Hamming-order probing recovers. */
  def planesForCorpus(n: Long): Int = {
    val target = math.max(1.0, n.toDouble / 40.0)
    math.min(24, math.max(8, math.ceil(math.log(target) / math.log(2)).toInt))
  }

  /** Default backend: a fresh [[DiskKv]] under the JVM temp dir — the
    * partition-streamed load path with no configuration. Pass an
    * [[InProcessKv]] for tiny corpora or a network [[ExecutorBackend]] for
    * a real online store. */
  def defaultBackend(): KvBackend = new DiskKv(
    graft.TempDirs.create("graft-kv").toString)
}

/** O5: training-set consumption combinators (reference client Dataset
  * repeat/shuffle/batch — client/src/featureform/serving.py:310-777). The
  * iterator pulls from `toLocalIterator` (spill-free, partition-at-a-time);
  * shuffle is a client-side buffer shuffle exactly like the reference's. */
object TrainingSetIterator {

  def rows(df: DataFrame): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  def repeat(df: DataFrame, n: Int): Iterator[Row] =
    Iterator.range(0, n).flatMap(_ => rows(df))

  /** Buffered shuffle with a deterministic seed. */
  def shuffled(it: Iterator[Row], bufferSize: Int, seed: Long): Iterator[Row] = {
    val rnd = new Random(seed)
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    val out = it.flatMap { r =>
      buf += r
      if (buf.size >= bufferSize) {
        val i = rnd.nextInt(buf.size)
        val picked = buf(i); buf(i) = buf.last; buf.dropRightInPlace(1)
        Iterator.single(picked)
      } else Iterator.empty
    }
    out ++ new Iterator[Row] {
      def hasNext: Boolean = buf.nonEmpty
      def next(): Row = {
        val i = rnd.nextInt(buf.size)
        val picked = buf(i); buf(i) = buf.last; buf.dropRightInPlace(1)
        picked
      }
    }
  }

  def batched(it: Iterator[Row], size: Int): Iterator[Seq[Row]] =
    it.grouped(size)

  /** O6: source preview (reference SourceData limit stream). */
  def preview(df: DataFrame, limit: Int): Seq[Row] = df.limit(limit).collect().toSeq
}
