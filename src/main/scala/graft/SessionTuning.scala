package graft

/** Session-level tuning shared by the runner entrypoints (Bench,
  * Verify, RunOne, ShuffleAudit) — round-15 optimization, measured
  * and justified in OPTIMIZATION_r15.md.
  *
  * 1. INITIAL SHUFFLE PARTITIONS DERIVED FROM INPUT SIZE (guide §2:
  *    "make partitioning scale-adaptive ... rather than a constant
  *    tuned for either local mode or the cluster"). The previous
  *    constant (= core count) is a local-mode artifact: at the bench's
  *    15.7 MB input it fans every tiny aggregation out to 32 map-side
  *    shuffle writers, and AQE can only coalesce the READ side —
  *    measured 17% of the heavy-subset wall (126.5 → 105.4 s at 8
  *    partitions, per-query table in OPTIMIZATION_r15.md). The rule
  *    targets ~2 MB per partition in the overhead-bound small regime
  *    and ~256 MB per partition at scale (the guide §2.2/§9 band),
  *    never dropping below 1 or the size-derived floor:
  *
  *      parts = clamp(bytes / 2 MB, 1, max(cores, bytes * 4 / 256 MB))
  *
  *    15.7 MB → 8; 2 MB → 1; 100 GB → 1,600 (64 MB of parquet ≈
  *    256 MB of row-format shuffle each — the ×4 expansion factor,
  *    ADVICE r15); 100 TB → ~1.6M. Cores only CAP the small regime —
  *    at cluster scale the byte-derived term dominates, so nothing
  *    here is tuned to local[32]. A dir resolving to zero bytes falls
  *    back to the core count (never 1) with a warning naming the
  *    cause; sizes resolve through the Hadoop FileSystem of the
  *    path's scheme (only local paths are exercised by the tests).
  *    Override: SPARK_GRAFT_SHUFFLE_PARTITIONS.
  *
  * 2. CODEGEN CACHE SIZED TO THE ENGINE (spark.sql.codegen.cache
  *    .maxEntries, default 100): one heavy gate query alone generates
  *    ~114 codegen units, so the default LRU thrashes to ZERO hits —
  *    measured: every rep of q93 recompiled all 114 units (~2 s of
  *    Janino per rep) until the cache was raised, after which reps
  *    2..n compiled nothing. A long-running deployment's driver has
  *    the same working set; the entries are compiled classes (small),
  *    so 8192 costs a few tens of MB. Override: SPARK_GRAFT_CODEGEN_CACHE.
  */
object SessionTuning {
  private val SmallTarget = 2L << 20 // 2 MB/partition: overhead-bound regime
  private val LargeTarget = 256L << 20 // 256 MB/partition at scale (guide §9)
  // Parquet bytes understate shuffle bytes: the large-regime cap sizes
  // SHUFFLE partitions, and row-format shuffle data of a parquet scan
  // decompresses/de-encodes ~3-6x (ADVICE r15). The cap therefore
  // charges each input byte an expansion factor so a "256 MB" partition
  // is ~256 MB of SHUFFLE payload (~64 MB of parquet), keeping the
  // guide §2.2 100 MB-1 GB band honest at scale. AQE's advisory size
  // still splits/coalesces residual outliers at runtime.
  private val ShuffleExpansion = 4L

  /** Recursive byte size of the inputs under `dir`, resolved through
    * the Hadoop FileSystem for the path's own scheme, so a remote URI
    * (hdfs://, s3a://) is sized by its own filesystem where that
    * connector is on the classpath, instead of silently reading 0
    * through a java.io walk (ADVICE r15). Returns 0 when the path is
    * missing or unreadable; the caller treats that loudly. */
  def inputBytes(dir: String): Long = sizeOrCause(dir).getOrElse(0L)

  /** [[inputBytes]] with the reason a size could not be read: Left
    * carries the non-fatal failure (fatal errors propagate), a
    * missing path is Right(0). */
  private def sizeOrCause(dir: String): Either[Throwable, Long] =
    try {
      val path = new org.apache.hadoop.fs.Path(dir)
      val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
      Right(if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L)
    } catch { case scala.util.control.NonFatal(e) => Left(e) }

  /** Input-derived initial shuffle partition count (rule above). A
    * dir that resolves to zero bytes (missing, empty, unreadable)
    * falls back to the CORE COUNT with a warning — never to 1, which
    * would serialize every shuffle of a misconfigured runner
    * (ADVICE r15 medium). */
  def shufflePartitions(dir: String, cpus: Int): Int = {
    val sized = sizeOrCause(dir)
    val bytes = sized.getOrElse(0L)
    if (bytes <= 0L) {
      val cause = sized.fold(e => s"could not size it: $e",
        _ => "missing or empty")
      System.err.println(s"[graft] SessionTuning: no readable input bytes" +
        s" under $dir ($cause) — falling back to $cpus shuffle partitions")
      math.max(1, cpus)
    } else {
      val target = math.max(1L, (bytes + SmallTarget - 1) / SmallTarget)
      val cap = math.max(cpus.toLong,
        (bytes * ShuffleExpansion + LargeTarget - 1) / LargeTarget)
      math.min(target, cap).toInt
    }
  }

  /** The env-overridable shuffle-partition setting for a runner whose
    * data directory is `dir`. */
  def shufflePartitionsConf(dir: String, cpus: Int): String =
    sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS",
      shufflePartitions(dir, cpus).toString)

  /** Codegen cache entries (static conf — set before session start). */
  def codegenCacheConf: String =
    sys.env.getOrElse("SPARK_GRAFT_CODEGEN_CACHE", "8192")
}
