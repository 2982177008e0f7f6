package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.propBoolean

import graft.SparkTestSession

/** LIFECYCLE FUZZ for POSITION DELETES
  * ([[graft.sources.GraftPosDeltaOperation]] / [[TxnTable.commitDelta]]):
  * drive a RANDOM sequence of append / SQL UPDATE (MoR) / SQL DELETE
  * (MoR) / compactDeletes / compactTxn / mid-sequence vacuum against a
  * merge-on-read catalog table, tracking an exact in-memory MODEL of
  * (id -> v); after EVERY op, both read surfaces — the Scala merge path
  * (`TxnTable.read`) and the SQL-by-name DSv2 position-aware scan,
  * whose tasks resolve tombstones from the delete sidecars
  * ([[graft.sources.GraftSidecarPartition]]; the UPDATE/DELETE rewrite
  * scans mid-sequence included) — must equal the model exactly, and every MoR statement must leave the
  * prior data files untouched BY PATH (the zero-rewrite contract).
  * Vacuum mid-sequence pins that position-delete files count as
  * referenced data (a reclaimed tombstone would resurrect rows — the
  * exact shape the model comparison detects).
  *
  * Row identity: appended ids come from a monotone counter and updates
  * add a distinguishable offset, so loss, resurrection, double-applied
  * tombstones, or a mis-masked ordinal each change the exact (id, v)
  * map — nothing is asserted approximately. */
object PosDeltaLawsProps extends Properties("graft.txn.posdelta.laws") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark = SparkTestSession.isolated() // mutates session confs

  private val cat = "graft_pdl_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_pdl").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }
  private val tableSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  sealed private trait Op
  private case class Append(n: Int) extends Op
  private case class Update(at: Int, width: Int) extends Op
  private case class Delete(at: Int, width: Int) extends Op
  private case object Fold extends Op
  private case object Compact extends Op
  private case object FoldSidecars extends Op
  private case object MidVacuum extends Op

  private val opGen: Gen[Op] = Gen.frequency(
    4 -> Gen.chooseNum(1, 4).map(Append),
    4 -> Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(1, 3))
      .map { case (a, w) => Update(a, w) },
    3 -> Gen.zip(Gen.chooseNum(0, 9), Gen.chooseNum(1, 2))
      .map { case (a, w) => Delete(a, w) },
    2 -> Gen.const(Fold),
    1 -> Gen.const(Compact),
    1 -> Gen.const(FoldSidecars),
    1 -> Gen.const(MidVacuum),
  )

  private val caseGen: Gen[List[Op]] = Gen.listOfN(6, opGen)

  property("read surfaces equal the model after every op; MoR statements " +
      "never rewrite data files") =
    Prop.forAll(caseGen)(runCase(_, foldTarget = 0))

  /** The SAME laws with every sidecar consolidation range-split into
    * three files (`compactPosDeletes(targetFiles = 3)`): one data file's
    * tombstones can then straddle two consolidated sidecars, so a masked
    * task — a by-name read or a mid-sequence UPDATE/DELETE rewrite scan
    * alike — resolves its ordinals from the union of several sidecar
    * slices ([[graft.sources.GraftSidecarPartition]]). Every surface
    * must still equal the model exactly. */
  property("the laws hold identically under sidecar-mode resolution") =
    Prop.forAll(caseGen)(runCase(_, foldTarget = 3))

  /** `foldTarget` is [[TxnTable.compactPosDeletes]]' `targetFiles`
    * (0 = auto-size: one consolidated sidecar at fuzz scale). */
  private def runCase(ops: List[Op], foldTarget: Int): Prop = {
      val s = spark
      import s.implicits._
      val name = s"fuzz${tableSeq.incrementAndGet()}"
      val root = s"$warehouse/db/$name"
      val model = scala.collection.mutable.Map.empty[Long, Long]
      var next = 0L
      def fresh(n: Int): org.apache.spark.sql.DataFrame = {
        val ids = (next until next + n); next += n
        ids.foreach(i => model(i) = i * 10L)
        ids.toDF("id").withColumn("v", col("id") * 10L).coalesce(1)
      }
      TxnTable.overwrite(spark, root, fresh(4).repartition(2),
        statsCols = Seq("id"))
      TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
        "merge-on-read")
      def surfaces(): (Map[Long, Long], Map[Long, Long]) = {
        def m(df: org.apache.spark.sql.DataFrame) = df.collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        (m(TxnTable.read(spark, root)),
          m(spark.sql(s"SELECT id, v FROM $cat.db.$name")))
      }
      // a range anchored INSIDE the live id space so ops usually match
      def range(at: Int, width: Int): (Long, Long) = {
        val lo = (at.toLong * next) / 10
        (lo, lo + width)
      }
      val checks = Seq.newBuilder[Prop]
      ops.foreach { op =>
        val before = TxnTable.latest(spark, root).get
        op match {
          case Append(n) => TxnTable.append(spark, root, fresh(n))
          case Update(at, w) =>
            val (lo, hi) = range(at, w)
            spark.sql(s"UPDATE $cat.db.$name SET v = v + 1000000 " +
              s"WHERE id BETWEEN $lo AND $hi")
            model.keys.filter(k => k >= lo && k <= hi)
              .foreach(k => model(k) = model(k) + 1000000L)
            val after = TxnTable.latest(spark, root).get
            checks += (before.files.forall(after.files.contains) :|
              s"UPDATE [$lo,$hi] rewrote a data file")
          case Delete(at, w) =>
            val (lo, hi) = range(at, w)
            spark.sql(s"DELETE FROM $cat.db.$name " +
              s"WHERE id BETWEEN $lo AND $hi")
            model.keys.filter(k => k >= lo && k <= hi).toSeq
              .foreach(model.remove)
            val after = TxnTable.latest(spark, root).get
            checks += ((after.files.toSet == before.files.toSet) :|
              s"DELETE [$lo,$hi] changed the data file set")
          case Fold =>
            if (TxnTable.latest(spark, root).exists(_.deletes.nonEmpty))
              TxnTable.compactDeletes(spark, root)
          case FoldSidecars =>
            // sidecar-only consolidation: content must be invariant and
            // data files must carry by path
            val after = TxnTable.compactPosDeletes(spark, root, foldTarget)
            checks += ((after.files.toSet == before.files.toSet) :|
              "compactPosDeletes changed the data file set")
          case Compact =>
            // full compact folds live tombstones with the content
            if (model.nonEmpty) TxnTable.compactTxn(spark, root, 1)
          case MidVacuum =>
            TxnTable.vacuum(spark, root, retainVersions = 2, graceMs = 0L)
        }
        val (scalaRead, sqlRead) = surfaces()
        checks += ((scalaRead == model.toMap) :|
          s"Scala merge path diverged after $op: got ${scalaRead.size} " +
            s"rows, model ${model.size}")
        checks += ((sqlRead == model.toMap) :|
          s"DSv2 scan diverged after $op: got ${sqlRead.size} rows, " +
            s"model ${model.size}")
      }
      Prop.all(checks.result(): _*)
  }
}
