package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame

class CandidatePairsSpec extends SparkSpec {
  import spark.implicits._

  test("rawCollisions is the exact sum of C(bucket,2)") {
    // bucket sizes 3, 2, 1 → C(3,2)+C(2,2)+C(1,2) = 3+1+0 = 4
    val banded = Seq(
      (1L, 0, 100L), (2L, 0, 100L), (3L, 0, 100L),
      (4L, 0, 200L), (5L, 0, 200L),
      (6L, 1, 100L)).toDF("id", "tbl", "bucket")
    assert(CandidatePairs.rawCollisions(banded, Seq("tbl", "bucket"), "spec") == 4L)
  }

  test("rawCollisions is 0 on an empty band table") {
    val empty = Seq.empty[(Long, Int, Long)].toDF("id", "tbl", "bucket")
    assert(CandidatePairs.rawCollisions(empty, Seq("tbl", "bucket"), "spec") == 0L)
  }

  test("pairDegree divides by max(nDocs, 1)") {
    assert(CandidatePairs.pairDegree(10L, 5L) == 2.0)
    assert(CandidatePairs.pairDegree(10L, 0L) == 10.0) // no div-by-zero
  }

  test("candidate-pair operators return equal rows with each gate forced either way") {
    // Every operator built on the candidate-pair recipe has two gates: the
    // band join (broadcast vs both sides pinned on the keys) and the
    // verify (broadcast attach vs pinned dedup + shuffle-hash attach). The
    // prefix joins decide both with their one verify gate. The four conf
    // sets reach every combination; each run must log the decisions it
    // made on graft.gate.
    val docs = graft.Tables(spark, sf0001, "documents")
    val emb = graft.Tables(spark, sf0001, "embeddings")
    val index = "spark.graft.prefixJoin.bruteMaxDocs" -> "0"
    val band0 = "spark.graft.bandJoin.broadcastRows" -> "0"
    val bytes1 = "spark.graft.broadcastBytes" -> "1"
    val noAuto = "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    // (operator, its own confs, band-gate op, verify-gate op, run)
    val ops: Seq[(String, Seq[(String, String)], Option[String], Option[String],
        () => DataFrame)] = Seq(
      ("minhash", Nil, Some("minhashCandidatePairs band"),
        Some("minhashCandidatePairs verify"),
        () => Dedup.minhashCandidatePairs(docs, "doc_id", "text", numHashes = 16, bands = 8)),
      ("simhash", Nil, Some("simhashNearDups band"), Some("simhashNearDups verify"),
        () => Dedup.simhashNearDups(docs, "doc_id", "text")),
      ("srp", Nil, Some("cosineNearDupPairs band"), Some("cosineNearDupPairs verify"),
        () => Similarity.cosineNearDupPairs(emb, threshold = 0.2)),
      ("jaccard prefix", Seq(index), None, Some("jaccardPrefixJoin verify"),
        () => PrefixJoin.jaccardPrefixJoin(docs, "doc_id", "text", 0.6)),
      ("weighted prefix", Seq(index), None, Some("weightedCosinePrefixJoin verify"),
        () => PrefixJoin.weightedCosinePrefixJoin(docs, "doc_id", "text", 0.6)))
    // (name, confs, band forced to shuffle, verify forced to shuffle)
    val sets = Seq(
      ("natural", Nil, false, false),
      ("band shuffle", Seq(band0, noAuto), true, false),
      ("verify shuffle", Seq(bytes1, noAuto), false, true),
      ("both shuffle", Seq(band0, bytes1, noAuto), true, true))
    for ((op, own, bandOp, verifyOp, run) <- ops) {
      val results = sets.map { case (set, confs, bandForced, verifyForced) =>
        val (rows, logs) = withConf(own ++ confs: _*) {
          graft.LogCapture("graft.gate")(run().collect().toSet)
        }
        def decided(gateOp: String, forced: Boolean): Unit = {
          val lines = logs.filter(_.startsWith(s"gate $gateOp: "))
          assert(lines.nonEmpty, s"$op/$set: no $gateOp decision in $logs")
          if (forced) assert(lines.forall(_.contains("shuffle regime")),
            s"$op/$set: $gateOp not forced to shuffle: $lines")
        }
        bandOp.foreach(decided(_, bandForced))
        verifyOp.foreach(decided(_, verifyForced))
        set -> rows
      }
      val natural = results.head._2
      assert(natural.nonEmpty, s"$op: no pairs on the fixture, equality proves nothing")
      results.tail.foreach { case (set, rows) =>
        assert(rows == natural, s"$op: $set rows differ from the natural regime's " +
          s"(${(rows -- natural).take(3)} extra, ${(natural -- rows).take(3)} missing)")
      }
    }
  }
}
