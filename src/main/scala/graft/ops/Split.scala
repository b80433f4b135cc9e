package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X1/X2: train/test split. The reference's ClickHouse implementation splits
  * by `row_number OVER (ORDER BY cityHash64(concat(_row, seed)))`
  * (provider/clickhouse.go:1278-1346) — a deterministic hash split. We keep
  * the deterministic-hash design (reproducible across runs AND engines, unlike
  * `randomSplit`) but make it purely local: a row is a test row iff the first
  * 8 hex chars of `md5(key || seed)` fall below `testSize` of the hash space.
  * No shuffle, no global ordering — evaluated in the scan projection, so it
  * scales embarrassingly.
  */
object Split {

  /** Hex threshold string such that P(md5 8-hex prefix <= t) ≈ testSize. */
  def hexThreshold(testSize: Double): String = {
    require(testSize >= 0 && testSize <= 1, s"testSize $testSize out of [0,1]")
    val cut = math.min((testSize * 4294967296.0).toLong, 4294967295L)
    f"$cut%08x"
  }

  def isTestCol(keys: Seq[Column], seed: Long, testSize: Double): Column = {
    val h = md5(concat_ws("|", (keys :+ lit(seed.toString)): _*))
    (substring(h, 1, 8) < lit(hexThreshold(testSize))).cast("int")
  }

  /** Adds `is_test` ∈ {0,1}. `keyCols` must (jointly) identify a row's split
    * fate — typically the entity + ts of a training-set row. */
  def withSplit(df: DataFrame, keyCols: Seq[String], testSize: Double,
                seed: Long): DataFrame =
    df.withColumn("is_test", isTestCol(keyCols.map(col), seed, testSize))

  /** Group-leak-safe k-fold assignment: `fold = md5₆₃(group || seed) % k`,
    * so every row of a group (all events of a user, all chunks of a
    * document) lands in ONE fold — the GroupKFold cross-validation
    * contract. Scan-stage arithmetic like [[isTestCol]]: no shuffle, no
    * global ordering, reproducible in any engine via the md5 bridge. */
  def withKFold(df: DataFrame, groupCols: Seq[String], k: Int,
                seed: Long): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    val h = graft.functions.expressions.Md5Long(
      concat_ws("|", (groupCols.map(col) :+ lit(seed.toString)): _*))
    df.withColumn("fold",
      pmod(h.bitwiseAND(lit(Long.MaxValue)), lit(k.toLong)).cast("int"))
  }

  /** Near-dup-LEAKAGE-safe split: every near-duplicate cluster lands
    * wholly on one side, so the test set never contains a near-copy of a
    * training document — the split-decontamination rule every serious
    * eval pipeline needs (plain row-hash splits leak: a doc and its
    * near-dup land on opposite sides ~2·p·(1−p) of the time). `pairs` is
    * any near-dup pair table (idA, idB — MinHash, SimHash, embedding);
    * components close via [[graft.functions.Dedup.closePairs]], then the
    * cluster id (singletons: the row's own id) becomes the hash-split
    * key — [[withSplit]]'s exact md5 rule, so cluster-level assignment
    * replays in any engine. Scale: the closure runs on the pair graph
    * (corpus-fraction-sized); the label attachment is one id-keyed join
    * of a metadata-small cluster table (AQE broadcasts it).
    * Output: input columns + (cluster_id, is_test). */
  def clusterSafeSplit(df: DataFrame, pairs: DataFrame, idCol: String,
                       testSize: Double, seed: Long): DataFrame = {
    val clusters = graft.functions.Dedup.closePairs(pairs)
      .withColumnRenamed("doc_id", idCol)
    df.join(clusters, Seq(idCol), "left")
      .withColumn("cluster_id", coalesce(col("cluster_id"), col(idCol)))
      .withColumn("is_test", isTestCol(Seq(col("cluster_id")), seed, testSize))
  }

  def train(df: DataFrame, keyCols: Seq[String], testSize: Double, seed: Long): DataFrame =
    withSplit(df, keyCols, testSize, seed).filter(col("is_test") === 0).drop("is_test")

  def test(df: DataFrame, keyCols: Seq[String], testSize: Double, seed: Long): DataFrame =
    withSplit(df, keyCols, testSize, seed).filter(col("is_test") === 1).drop("is_test")
}

/** X3: the split-serving protocol — one split definition serving paired
  * train/test iterators with a pinned view and deterministic replay
  * (reference serving/serving.go:128-291: INITIALIZE creates the split
  * views, then train/test streams iterate them independently; re-requesting
  * an iterator replays the same rows).
  *
  * `initialize()` pins the tagged frame (cache = the reference's view
  * lifecycle); both iterators derive from that one frame, so they partition
  * the data exactly (train ∪ test = all, train ∩ test = ∅) and replay
  * identically — the hash split is a pure function of the key columns, so
  * even across sessions the assignment is stable. `close()` releases the
  * pin.
  */
final class SplitSession(df: DataFrame, keyCols: Seq[String],
                         testSize: Double, seed: Long) {
  private var tagged: DataFrame = _

  def initialize(): this.type = synchronized {
    if (tagged == null)
      tagged = Split.withSplit(df, keyCols, testSize, seed)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    this
  }

  private def frame: DataFrame = synchronized {
    require(tagged != null, "SplitSession not initialized")
    tagged
  }

  def trainFrame: DataFrame = frame.filter(col("is_test") === 0).drop("is_test")
  def testFrame: DataFrame  = frame.filter(col("is_test") === 1).drop("is_test")

  /** Paired iterators — each call replays from the pinned view. */
  def train(): Iterator[org.apache.spark.sql.Row] =
    graft.serving.TrainingSetIterator.rows(trainFrame)
  def test(): Iterator[org.apache.spark.sql.Row] =
    graft.serving.TrainingSetIterator.rows(testFrame)

  def close(): Unit = synchronized {
    if (tagged != null) { tagged.unpersist(); tagged = null }
  }
}
