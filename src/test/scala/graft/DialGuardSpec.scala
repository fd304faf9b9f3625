package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Pipeline

/** Every `-Dgraft.*` numeric dial must treat a malformed value exactly
  * like an absent one: the documented default, no NumberFormatException
  * at plan-build time. Checked on [[Knobs.from]] over a property map, so
  * no JVM property is written. */
class DialGuardSpec extends AnyFunSuite {

  private val dials = Seq(
    "bloomBits", "bloomProbes", "cmsWidth", "cmsDepth", "ccDriverMaxEdges",
    "exactBaselineMaxRows", "broadcastFrontMaxRows", "packBuckets",
    "ivfCells", "kmeansIters", "kmeansFitPoints", "ivfSuperCells",
    "pqSubspaces", "pqCodes", "pqRerank", "ivfNprobe", "lshTables",
    "lshPlanes", "dsirBuckets", "imageBands", "imageHamming", "cdcMaskBits",
    "lrDriverRows", "uniSeed", "bpeMerges", "chunkTokens", "chunkStride",
    "evalQueries", "explodeSpread", "lexCheckpoint", "checkpointMode",
    "sketchAgreement", "maxResultRows", "resultPartitionRows",
    "timeTravelMaxBytes", "streamSnapshotMaxBytes")

  test("Knobs.from parses defensively: trimmed numbers, malformed means absent") {
    assert(Knobs.from(Map("graft.pqRerank" -> "  42 ")).pqRerank == 42)
    assert(Knobs.from(Map("graft.lrDriverRows" -> " 42")).lrDriverRows == 42L)
    assert(Knobs.from(Map("graft.pqRerank" -> "forty-two")).pqRerank == 25)
    assert(Knobs.from(Map("graft.lrDriverRows" -> "forty-two")).lrDriverRows ==
      Knobs().lrDriverRows)
    assert(Knobs.from(Map.empty[String, String]) == Knobs())
  }

  test("every numeric dial observes its default under a garbage -D value") {
    implicit val k: Knobs =
      Knobs.from(dials.map(d => s"graft.$d" -> "not-a-number !!").toMap)
    assert(k == Knobs())
    assert(k.bloomLogBits == 16)
    assert(k.bloomProbes == 4)
    assert(k.cmsLogWidth == 13)
    assert(k.cmsDepth == 4)
    assert(k.ccDriverMaxEdges == 5000000L)
    assert(k.exactBaselineMaxRows == 200000L)
    assert(Pipeline.ivfK(100L * 100) == 100)       // ceil(sqrt(n)) default
    assert(k.kmeansIters == 4)
    assert(k.kmeansFitPoints == 256L)
    assert(Pipeline.superKFor(64L) == 8)           // ceil(sqrt(k)) default
    assert(k.pqM == 8)
    assert(k.pqK == 16)
    assert(k.pqRerank == 25)
    assert(Pipeline.ivfNprobe(64) == 4)            // max(3, k/16) default
    assert(k.lshTables == 4)
    assert(Pipeline.lshNumPlanes(0L) >= 1)
    assert(k.dsirBuckets > 0)
    assert(k.imageBands == 4)
    assert(k.imageHamming == 6)
    assert(k.cdcMaskBits == 7)
    assert(k.uniSeed == 200)
    assert(k.bpeMerges == 6)
    assert(k.chunkTokens == 64)
    assert(k.chunkStride == 48)
    assert(k.evalQueries.isEmpty)   // garbage = full query set
    assert(k.sketchAgreement)
    assert(k.checkpointMode == "local")
  }
}
