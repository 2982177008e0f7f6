package graft.sinks

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Branches: named mutable refs with their own commit line. Branch
  * appends are invisible to main (snapshot isolation across refs), the
  * branch reads as fork content + its appends, a clean fast-forward
  * publishes the branch head as main's next version, divergence refuses
  * loud, and vacuum treats branch-referenced files and the fork manifest
  * as pinned. Tags, the immutable refs, pin their version the same way
  * until dropped. */
class TxnBranchSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private def freshRoot(): String =
    Files.createTempDirectory("txn_branch").toString + "/tbl"

  private def df(ids: Long*) = {
    val s = spark
    import s.implicits._
    ids.toDF("id").withColumn("v", col("id") * 10L)
  }

  /** A branch head (or tag) through the reader's `versionAsOf` reference. */
  private def branchRead(root: String, name: String) =
    spark.read.format("graft-txn").option("versionAsOf", name).load(root)

  private def ids(d: org.apache.spark.sql.DataFrame): Set[Long] = {
    val s = spark
    import s.implicits._
    d.select("id").as[Long].collect().toSet
  }

  test("branch appends are invisible to main; branch reads fork + appends") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.append(spark, root, df(3).coalesce(1))
    TxnTable.createBranch(spark, root, "audit")
    TxnTable.appendToBranch(spark, root, "audit", df(10, 11).coalesce(1))
    TxnTable.appendToBranch(spark, root, "audit", df(12).coalesce(1))
    // main: version line and content untouched
    assert(TxnTable.versions(spark, root) === Seq(1L, 2L))
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 2L, 3L))
    // branch: fork content + both appends, numbered past the fork
    assert(TxnTable.branchVersions(spark, root, "audit") === Seq(3L, 4L))
    assert(ids(branchRead(root, "audit")) ===
      Set(1L, 2L, 3L, 10L, 11L, 12L))
    // inherited metadata: branch files carry the table's stats column
    val bh = TxnTable.branchHead(spark, root, "audit")
    assert(bh.statsCols === Seq("id"))
    assert(bh.files.forall(f => bh.stats.get(f).exists(_.contains("id"))))
    // an empty branch's head IS the fork snapshot
    TxnTable.createBranch(spark, root, "empty")
    assert(TxnTable.branchHead(spark, root, "empty").version === 2L)
    assert(ids(branchRead(root, "empty")) === Set(1L, 2L, 3L))
  }

  test("fast-forward publishes the branch head; divergence refuses") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "ff")
    TxnTable.appendToBranch(spark, root, "ff", df(20, 21).coalesce(1))
    val out = TxnTable.fastForward(spark, root, "ff")
    assert(out.version === 2L && out.op === "fast-forward:ff")
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 2L, 20L, 21L))
    // pre-ff history intact
    assert(ids(TxnTable.readAsOf(spark, root, 1L)) === Set(1L, 2L))
    // metadata aggregates work through the published branch content
    assert(TxnTable.metaCount(spark, root) === Some(4L))
    // divergence: cut a branch, advance main, then try to fast-forward
    TxnTable.createBranch(spark, root, "stale")
    TxnTable.appendToBranch(spark, root, "stale", df(30).coalesce(1))
    TxnTable.append(spark, root, df(5).coalesce(1))
    val e = intercept[TxnTable.TxnConflictException] {
      TxnTable.fastForward(spark, root, "stale")
    }
    assert(e.getMessage.contains("diverged"))
    // the branch itself still reads (off its own fork)
    assert(ids(branchRead(root, "stale")) ===
      Set(1L, 2L, 20L, 21L, 30L))
  }

  test("replayBranch: divergence converges; result == from-scratch recompute") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "work")
    TxnTable.appendToBranch(spark, root, "work", df(10, 11).coalesce(1))
    TxnTable.appendToBranch(spark, root, "work", df(12).coalesce(1))
    // main moves past the fork -> fastForward refuses, replay converges
    TxnTable.append(spark, root, df(5).coalesce(1))
    intercept[TxnTable.TxnConflictException] {
      TxnTable.fastForward(spark, root, "work")
    }
    val out = TxnTable.replayBranch(spark, root, "work")
    // one main version per branch commit, replay ops in the audit trail
    assert(out.op === "replay:work")
    assert(TxnTable.versions(spark, root) === Seq(1L, 2L, 3L, 4L))
    assert(TxnTable.snapshot(spark, root, 3L).op === "replay:work")
    // the q124 recompute pattern: converged main must hash-equal the
    // from-scratch union of main's own line + the branch's appends
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 2L, 5L, 10L, 11L, 12L))
    // pre-replay history intact (snapshot isolation across the replay)
    assert(ids(TxnTable.readAsOf(spark, root, 2L)) === Set(1L, 2L, 5L))
    // replayed files carry their recorded stats; metadata aggs answer
    val head = TxnTable.latest(spark, root).get
    assert(head.files.forall(f => head.stats.get(f).exists(_.contains("id"))))
    assert(TxnTable.metaCount(spark, root) === Some(6L))
    // a SECOND replay refuses: the files are already on main
    val dup = intercept[IllegalArgumentException] {
      TxnTable.replayBranch(spark, root, "work")
    }
    assert(dup.getMessage.contains("double-count"))
    TxnTable.dropBranch(spark, root, "work")
  }

  test("replayBranch: refuses non-append branch commits and a main still at the fork") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "b")
    TxnTable.appendToBranch(spark, root, "b", df(9).coalesce(1))
    // main at the fork: replay is the wrong tool (fast-forward is)
    val atFork = intercept[IllegalArgumentException] {
      TxnTable.replayBranch(spark, root, "b")
    }
    assert(atFork.getMessage.contains("fastForward"))
    // an empty branch replays to the current head trivially
    TxnTable.createBranch(spark, root, "noop")
    assert(TxnTable.replayBranch(spark, root, "noop").version ===
      TxnTable.latest(spark, root).get.version)
  }

  test("vacuum pins the fork manifest and branch-referenced files; dropBranch releases them") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2).coalesce(1), statsCols = Seq("id"))
    TxnTable.createBranch(spark, root, "b")
    TxnTable.appendToBranch(spark, root, "b", df(10).coalesce(1))
    // advance main twice so v1 (the fork) falls out of retention
    TxnTable.append(spark, root, df(3).coalesce(1))
    TxnTable.compactTxn(spark, root, targetFiles = 1)
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    // fork manifest pinned -> branch still reads, with its append
    assert(ids(branchRead(root, "b")) === Set(1L, 2L, 10L))
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 2L, 3L))
    // drop the branch: next vacuum reclaims what only it referenced
    TxnTable.dropBranch(spark, root, "b")
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(TxnTable.branches(spark, root).isEmpty)
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      branchRead(root, "b")
    }
  }

  test("tags pin versions through vacuum; immutable until dropped") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1).coalesce(1)) // v1
    TxnTable.tagVersion(spark, root, "baseline", 1L)
    TxnTable.append(spark, root, df(2).coalesce(1)) // v2
    TxnTable.append(spark, root, df(3).coalesce(1)) // v3
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    // v2 is gone, the tagged v1 is not, and it still reads through the tag
    assert(TxnTable.versions(spark, root) === Seq(1L, 3L))
    assert(ids(branchRead(root, "baseline")) === Set(1L))
    assert(TxnTable.tags(spark, root) === Map("baseline" -> 1L))
    intercept[IllegalStateException] {
      TxnTable.tagVersion(spark, root, "baseline", 3L)
    }
    // dropping the tag releases v1 to retention
    TxnTable.dropTag(spark, root, "baseline")
    TxnTable.vacuum(spark, root, retainVersions = 1, graceMs = 0L)
    assert(TxnTable.versions(spark, root) === Seq(3L))
    assert(TxnTable.tags(spark, root).isEmpty)
  }

  test("a branch holding live MoR deletes reads merged through versionAsOf") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1, 2, 3).coalesce(1), statsCols = Seq("id"))
    val s = spark
    import s.implicits._
    TxnTable.deleteKeysMor(spark, root, "id", Seq(2L).toDF("id"))
    TxnTable.createBranch(spark, root, "audit")
    TxnTable.appendToBranch(spark, root, "audit", df(10).coalesce(1))
    assert(TxnTable.branchHead(spark, root, "audit").deletes.nonEmpty)
    // the DSv2 scan masks the live deletes: fork content minus the
    // deleted key, plus the branch append
    assert(ids(branchRead(root, "audit")) === Set(1L, 3L, 10L))
    assert(ids(TxnTable.read(spark, root)) === Set(1L, 3L))
  }

  test("refs metadata table lists branches with their head version") {
    val root = freshRoot()
    TxnTable.append(spark, root, df(1).coalesce(1))
    TxnTable.tagVersion(spark, root, "t1", 1L)
    TxnTable.createBranch(spark, root, "dev")
    TxnTable.appendToBranch(spark, root, "dev", df(2).coalesce(1))
    val r = TxnMeta.refs(spark, root).collect()
      .map(x => (x.getAs[String]("name"), x.getAs[String]("kind"),
        Option(x.getAs[Any]("version")))).toSet
    assert(r.contains(("t1", "tag", Some(1L))))
    assert(r.contains(("dev", "branch", Some(2L))))
    // duplicate and dangling refuse loud
    intercept[IllegalStateException] {
      TxnTable.createBranch(spark, root, "dev")
    }
    intercept[Exception] {
      TxnTable.createBranch(spark, root, "nope", Some(99L))
    }
  }
}
