package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkTestSession

/** LIVENESS FUZZ for [[TxnTable.vacuum]] — the mechanical version of the
  * bug class round 10 found by inspection (vacuum's one-level walk
  * deleting LIVE files under hidden-partition fan-out dirs): drive a
  * RANDOM sequence of append / transform-append / compact / MoR delete /
  * CoW delete / delete-fold / restore / branch-append / mid-sequence
  * vacuum against a fresh table, then vacuum hard (retain 2, no grace)
  * and assert that EVERY still-readable version — every retained main
  * manifest, pinned fork, and the branch head — reads bit-identical to
  * its pre-vacuum contents. Restore is the nastiest stressor on
  * purpose: it re-references OLD files from a NEW manifest, so a vacuum
  * that reasons per-manifest-age instead of per-referenced-file would
  * reclaim live data.
  *
  * Row identity: every append draws ids from a monotonically increasing
  * counter, so any resurrection, loss, or cross-version mixup changes
  * the exact (id, v) multiset and fails the comparison — nothing is
  * asserted "approximately". */
object VacuumLawsProps extends Properties("graft.txn.vacuum.laws") {

  // each case replays a multi-op Spark sequence; a handful of cases
  // covers the op-interleaving space the bug class lives in without
  // turning the suite into a benchmark
  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(6)

  private lazy val spark = SparkTestSession.spark

  sealed private trait Op
  private case class Append(n: Int) extends Op
  private case object Compact extends Op
  // partial compaction carries UNSELECTED files by reference into the
  // new manifest — with restore, the exact multi-manifest-reference
  // shape a per-age (instead of per-referenced-file) vacuum would break
  private case class PartialCompact(sel: Int) extends Op
  private case object MorDelete extends Op
  private case object FoldDeletes extends Op
  private case object CowDelete extends Op
  private case object Restore extends Op
  private case object BranchAppend extends Op
  private case class MidVacuum(retain: Int) extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    5 -> Gen.chooseNum(1, 4).map(Append),
    2 -> Gen.const(Compact),
    2 -> Gen.chooseNum(0, 7).map(PartialCompact),
    2 -> Gen.const(MorDelete),
    1 -> Gen.const(FoldDeletes),
    2 -> Gen.const(CowDelete),
    2 -> Gen.const(Restore),
    2 -> Gen.const(BranchAppend),
    1 -> Gen.chooseNum(2, 3).map(MidVacuum),
  )

  private val caseGen: Gen[(Boolean, List[Op])] = for {
    bucketed <- Gen.oneOf(true, false) // hidden-partition fan-out or flat
    ops <- Gen.listOfN(7, opGen)
  } yield (bucketed, ops)

  private def contents(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] = {
    val s = spark
    import s.implicits._
    df.select(col("id"), col("v")).as[(Long, Long)].collect().sorted.toSeq
  }

  /** A fully-deleted snapshot has no files and [[TxnTable.read]] refuses
    * it by contract — for the law it simply reads as empty. */
  private def versionContents(root: String, v: Long): Seq[(Long, Long)] =
    if (TxnTable.snapshot(spark, root, v).files.isEmpty) Seq.empty
    else contents(TxnTable.readAsOf(spark, root, v))

  private def headContents(root: String): Seq[(Long, Long)] =
    versionContents(root, TxnTable.latest(spark, root).get.version)

  /** A branch head through the DSv2 reader, live deletes masked. */
  private def branchContents(root: String, b: String): Seq[(Long, Long)] =
    contents(spark.read.format("graft-txn").option("versionAsOf", b).load(root))

  property("every readable version survives vacuum bit-identical") =
    Prop.forAll(caseGen) { case (bucketed, ops) =>
      val root = Files.createTempDirectory("txn_vacuum_fuzz").toString + "/tbl"
      val s = spark
      import s.implicits._
      var next = 0L
      def fresh(n: Int): org.apache.spark.sql.DataFrame = {
        val ids = (next until next + n); next += n
        ids.toDF("id").withColumn("v", col("id") * 10L).coalesce(1)
      }
      val transforms =
        if (bucketed) Seq(TxnTable.Transform.bucket(2, "id")) else Nil
      TxnTable.append(spark, root, fresh(3),
        statsCols = Seq("id"), transforms = transforms)
      var branch: Option[String] = None
      // deterministic per-run op interleave (ScalaCheck owns randomness)
      ops.foreach {
        case Append(n) => TxnTable.append(spark, root, fresh(n))
        case Compact   => TxnTable.compactTxn(spark, root, targetFiles = 1)
        case PartialCompact(sel) =>
          // a moving half-open id range: sometimes selects several
          // files, sometimes one (no-op), sometimes none (no-op)
          val lo = (sel.toLong * next) / 8
          TxnTable.compactWhere(spark, root, targetFiles = 1,
            bounds = Seq(("id", lo, lo + math.max(2, next / 2))))
        case MorDelete =>
          val live = headContents(root)
          if (live.nonEmpty)
            TxnTable.deleteKeysMor(spark, root, "id",
              Seq(live.head._1).toDF("id"))
        case FoldDeletes =>
          if (TxnTable.latest(spark, root).exists(_.deletes.nonEmpty))
            TxnTable.compactDeletes(spark, root)
        case CowDelete =>
          // deleteWhere refuses (by contract) while MoR deletes are
          // live — fold first, as its error message prescribes
          if (TxnTable.latest(spark, root).exists(_.deletes.nonEmpty))
            TxnTable.compactDeletes(spark, root)
          val live = headContents(root)
          if (live.nonEmpty) {
            val k = live.last._1
            TxnTable.deleteWhere(spark, root, col("id") === k, Some((k, k)))
          }
        case Restore =>
          val vs = TxnTable.versions(spark, root)
          if (vs.size >= 2) TxnTable.restore(spark, root, vs(vs.size / 2))
        case BranchAppend =>
          if (branch.isEmpty) {
            TxnTable.createBranch(spark, root, "fuzz")
            branch = Some("fuzz")
          }
          TxnTable.appendToBranch(spark, root, "fuzz", fresh(2))
        case MidVacuum(r) =>
          TxnTable.vacuum(spark, root, retainVersions = r, graceMs = 0L)
      }
      // ---- the law: snapshot everything readable, vacuum, re-read ----
      val beforeMain = TxnTable.versions(spark, root)
        .map(v => v -> versionContents(root, v)).toMap
      val beforeBranch = branch.map(branchContents(root, _))
      TxnTable.vacuum(spark, root, retainVersions = 2, graceMs = 0L)
      val after = TxnTable.versions(spark, root)
      val mainOk = Prop.all(after.map(v =>
        (versionContents(root, v) == beforeMain(v)) :|
          s"version $v changed across vacuum"): _*)
      val headOk = (headContents(root) ==
        beforeMain(beforeMain.keys.max)) :| "head changed across vacuum"
      val branchOk = branch.fold(Prop.passed)(b =>
        (beforeBranch.contains(branchContents(root, b))) :|
          s"branch $b changed across vacuum")
      // the newest retained window must actually be retained
      val retainedOk = (after.nonEmpty &&
        after.last == beforeMain.keys.max) :| "head version dropped"
      mainOk && headOk && branchOk && retainedOk
    }
}
