package graft

import scala.util.Try

/** Every `-Dgraft.*` property, resolved once into one immutable value.
  *
  * Code that reads a dial reads it from the `Knobs` it was handed: the
  * query layer builds its whole inventory over one value
  * (`Pipeline.defsFor`), so the Spark plan, the DuckDB oracle SQL and the
  * staging keys of the fitted artifacts always observe the same dials;
  * the emulator takes its caps from `Executor.knobs`. [[Knobs.jvm]] is
  * the value the JVM was started with. Nothing writes a `graft.*`
  * property at run time: a caller that wants other dials builds another
  * value (`Knobs.jvm.copy(sketchAgreement = false)`), and two values live
  * side by side in one JVM without touching each other.
  *
  * Each field's doc names its property, default and clamp; [[Knobs.from]]
  * applies them. A malformed value (`-Dgraft.bloomBits=lots`) behaves
  * exactly like an absent one, so both engines resolve it to the same
  * default instead of throwing at plan-build time. */
final case class Knobs(
    // ---- query layer: the Spark plans and their DuckDB mirrors --------
    /** `explodeSpread`: partition width forced ahead of a corpus-scale
      * explode whose input scans as too few splits; None = the session's
      * default parallelism, 0 disables. Values are repartition-invariant. */
    explodeSpread: Option[Int] = None,
    /** log2 of `bloomBits` (the Bloom bitset size, rounded down to a power
      * of two), clamped [12, 24]; default 2^16. */
    bloomLogBits: Int = 16,
    /** `bloomProbes`: Bloom probe count, clamped [1, 8]. */
    bloomProbes: Int = 4,
    /** log2 of `cmsWidth` (count-min cells per row, rounded down to a
      * power of two), clamped [8, 20]; default 8192 cells. */
    cmsLogWidth: Int = 13,
    /** `cmsDepth`: count-min rows, clamped [1, 8]. */
    cmsDepth: Int = 4,
    /** `ccDriverMaxEdges`: connected components solve on the driver at or
      * below this edge count, distributed above it. */
    ccDriverMaxEdges: Long = 5000000L,
    /** `sketchAgreement` (on/off): off drops the exact-rank side of the
      * agreement entries (p53c/p55c/p87c/p90b), the 100 TB form. */
    sketchAgreement: Boolean = true,
    /** `exactBaselineMaxRows`: the O(n^2) exact baselines refuse corpora
      * above this many vectors. */
    exactBaselineMaxRows: Long = 200000L,
    /** `broadcastFrontMaxRows`: largest pair front hinted into a
      * broadcast (~24 B a row, so about 25 MB at the default). */
    broadcastFrontMaxRows: Long = 1000000L,
    /** `packBuckets`: p23's packing parallelism, doc_id % packBuckets. */
    packBuckets: Int = 32,
    /** `evalQueries`: the ANN evaluation query sample m, at least 1; None
      * derives it from the corpus size (`Pipeline.effectiveEvalM`). */
    evalQueries: Option[Long] = None,
    /** `ivfCells`: IVF cell count, at least 1; None = max(16, ceil(sqrt n)). */
    ivfCells: Option[Int] = None,
    /** `kmeansIters`: k-means assign/recompute rounds (the oracle unrolls
      * exactly this many). */
    kmeansIters: Int = 4,
    /** `kmeansFitPoints`: points per centroid in the fit sample, at least 1. */
    kmeansFitPoints: Long = 256L,
    /** `ivfSuperCells`: super-cell count, at least 1; None = max(2, ceil(sqrt k)). */
    ivfSuperCells: Option[Int] = None,
    /** `pqSubspaces`: PQ subspaces M, clamped [1, 16]. */
    pqM: Int = 8,
    /** `pqCodes`: codes per PQ subspace k', clamped [2, 256]. */
    pqK: Int = 16,
    /** `pqRerank`: p43's exact re-rank shortlist, clamped [5, 500]. */
    pqRerank: Int = 25,
    /** `ivfNprobe`: IVF probe width, at least 1; None = max(3, k / 16). */
    ivfNprobe: Option[Int] = None,
    /** `lshTables`: LSH tables, clamped [1, `Pipeline.lshMaxTables`]. */
    lshTables: Int = 4,
    /** `lshPlanes`: LSH planes, clamped [1, `Pipeline.lshMaxPlanes`]; None
      * sizes buckets to ~64 vectors. */
    lshPlanes: Option[Int] = None,
    /** `imageBands`: p63b band count, one of 2, 4, 8 (anything else is 4). */
    imageBands: Int = 4,
    /** `imageHamming`: p63b survivor threshold, clamped [0, 16]. */
    imageHamming: Int = 6,
    /** `cdcMaskBits`: p72 boundary mask width, clamped [4, 12]. */
    cdcMaskBits: Int = 7,
    /** `chunkTokens`: p50 chunk window in tokens, clamped [8, 4096]. */
    chunkTokens: Int = 64,
    /** `chunkStride`: p50 chunk stride, clamped [1, chunkTokens] (a stride
      * past the window would skip tokens; the clamp applies to the
      * default too). */
    chunkStride: Int = 48,
    /** `bpeMerges`: BPE merge rounds, clamped [1, 12]. */
    bpeMerges: Int = 6,
    /** `uniSeed`: unigram piece-lexicon seed size, clamped [50, 2000]. */
    uniSeed: Int = 200,
    /** `dsirBuckets`: DSIR feature buckets, clamped [256, 2^20]. */
    dsirBuckets: Int = 8192,
    /** `lrDriverRows`: the LR fit runs on the driver at or below this
      * many feature rows. */
    lrDriverRows: Long = 2000000L,
    /** `lexCheckpoint`: materialize LexRank's rank frame every this many
      * rounds; None (unset, malformed or not positive) = never. */
    lexCheckpoint: Option[Int] = None,
    /** `checkpointMode`: local, reliable or stage (see [[Materialize]]). */
    checkpointMode: String = "local",
    // ---- emulator ------------------------------------------------------
    /** `maxResultRows`: protocol-edge result cap in rows. */
    maxResultRows: Int = 1000000,
    /** `resultPartitionRows`: rows per REST v2 result partition, at least 1. */
    resultPartitionRows: Int = 100000,
    /** `timeTravelMaxBytes`: tables above this on-disk size keep no
      * versions (AT/BEFORE reports time travel unavailable) and no UNDROP
      * copy: a version pins the table's replaced files until evicted, up
      * to 8 table sizes a table. */
    timeTravelMaxBytes: Long = 1024L * 1024 * 1024,
    /** `streamSnapshotMaxBytes`: a stream baseline above this is refused
      * (CREATE STREAM errors; a later advance past it marks the stream
      * stale), the same trade-off as time travel. */
    streamSnapshotMaxBytes: Long = 8L * 1024 * 1024 * 1024,
    // ---- deployment paths ----------------------------------------------
    /** `pipelineDir`: the default `TABLE(PIPELINE())` data directory. */
    pipelineDir: Option[String] = None,
    /** `shingleStageDir`: shared staging root of the pipeline artifacts;
      * None = a JVM-lifetime temp dir. */
    shingleStageDir: Option[String] = None,
    /** `matStageDir`: [[Materialize]]'s stage-mode root (any Hadoop URI). */
    matStageDir: Option[String] = None,
    /** `checkpointDir`: the reliable-mode checkpoint directory. */
    checkpointDir: Option[String] = None)

object Knobs {
  /** The knobs given at JVM start. */
  lazy val jvm: Knobs = from(sys.props)

  /** Resolve the `graft.*` entries of `props`. */
  def from(props: scala.collection.Map[String, String]): Knobs = {
    def raw(name: String) = props.get(s"graft.$name")
    def int(name: String) = raw(name).flatMap(v => Try(v.trim.toInt).toOption)
    def long(name: String) = raw(name).flatMap(v => Try(v.trim.toLong).toOption)
    def clamp(lo: Int, hi: Int)(v: Int) = math.min(hi, math.max(lo, v))
    def log2(v: Long) = 63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, v))
    val d = Knobs()
    val chunkTokens = int("chunkTokens").map(clamp(8, 4096)).getOrElse(d.chunkTokens)
    Knobs(
      explodeSpread = int("explodeSpread"),
      bloomLogBits = long("bloomBits").map(v => clamp(12, 24)(log2(v))).getOrElse(d.bloomLogBits),
      bloomProbes = int("bloomProbes").map(clamp(1, 8)).getOrElse(d.bloomProbes),
      cmsLogWidth = long("cmsWidth").map(v => clamp(8, 20)(log2(v))).getOrElse(d.cmsLogWidth),
      cmsDepth = int("cmsDepth").map(clamp(1, 8)).getOrElse(d.cmsDepth),
      ccDriverMaxEdges = long("ccDriverMaxEdges").getOrElse(d.ccDriverMaxEdges),
      sketchAgreement = !raw("sketchAgreement").exists(_.trim.toLowerCase == "off"),
      exactBaselineMaxRows = long("exactBaselineMaxRows").getOrElse(d.exactBaselineMaxRows),
      broadcastFrontMaxRows = long("broadcastFrontMaxRows").getOrElse(d.broadcastFrontMaxRows),
      packBuckets = int("packBuckets").getOrElse(d.packBuckets),
      evalQueries = long("evalQueries").map(math.max(1L, _)),
      ivfCells = int("ivfCells").map(math.max(1, _)),
      kmeansIters = int("kmeansIters").getOrElse(d.kmeansIters),
      kmeansFitPoints = long("kmeansFitPoints").map(math.max(1L, _)).getOrElse(d.kmeansFitPoints),
      ivfSuperCells = int("ivfSuperCells").map(math.max(1, _)),
      pqM = int("pqSubspaces").map(clamp(1, 16)).getOrElse(d.pqM),
      pqK = int("pqCodes").map(clamp(2, 256)).getOrElse(d.pqK),
      pqRerank = int("pqRerank").map(clamp(5, 500)).getOrElse(d.pqRerank),
      ivfNprobe = int("ivfNprobe").map(math.max(1, _)),
      lshTables = int("lshTables").map(clamp(1, queries.Pipeline.lshMaxTables)).getOrElse(d.lshTables),
      lshPlanes = int("lshPlanes").map(clamp(1, queries.Pipeline.lshMaxPlanes)),
      imageBands = int("imageBands").filter(Set(2, 4, 8)).getOrElse(d.imageBands),
      imageHamming = int("imageHamming").map(clamp(0, 16)).getOrElse(d.imageHamming),
      cdcMaskBits = int("cdcMaskBits").map(clamp(4, 12)).getOrElse(d.cdcMaskBits),
      chunkTokens = chunkTokens,
      chunkStride = math.min(chunkTokens, int("chunkStride").map(math.max(1, _)).getOrElse(d.chunkStride)),
      bpeMerges = int("bpeMerges").map(clamp(1, 12)).getOrElse(d.bpeMerges),
      uniSeed = int("uniSeed").map(clamp(50, 2000)).getOrElse(d.uniSeed),
      dsirBuckets = int("dsirBuckets").map(clamp(256, 1 << 20)).getOrElse(d.dsirBuckets),
      lrDriverRows = long("lrDriverRows").getOrElse(d.lrDriverRows),
      lexCheckpoint = int("lexCheckpoint").filter(_ > 0),
      checkpointMode = raw("checkpointMode").map(_.trim.toLowerCase)
        .filter(Set("local", "reliable", "stage")).getOrElse(d.checkpointMode),
      maxResultRows = int("maxResultRows").getOrElse(d.maxResultRows),
      resultPartitionRows = int("resultPartitionRows").map(math.max(1, _)).getOrElse(d.resultPartitionRows),
      timeTravelMaxBytes = long("timeTravelMaxBytes").getOrElse(d.timeTravelMaxBytes),
      streamSnapshotMaxBytes = long("streamSnapshotMaxBytes").getOrElse(d.streamSnapshotMaxBytes),
      pipelineDir = raw("pipelineDir"),
      shingleStageDir = raw("shingleStageDir"),
      matStageDir = raw("matStageDir"),
      checkpointDir = raw("checkpointDir"))
  }
}
