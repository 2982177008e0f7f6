package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.GraftCatalog

/** TABLE CONSTRAINTS — Delta-shaped CHECK invariants
  * ([[TxnTable.addConstraint]] / property `constraint.<name>`): the one
  * place the format still trusted caller discipline was data CONTENT;
  * now a curation contract (doc_id non-null, score in range) refuses
  * violating writes loud and atomically on every write surface —
  * append, overwrite, merge, streaming batches, row-level SQL in both
  * regimes — while maintenance (compaction, restore, branch replay)
  * carries the contract untouched. SQL-standard CHECK null semantics:
  * NULL passes a CHECK; NOT NULL is spelled `col IS NOT NULL`. */
class TxnConstraintsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_cons_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_cons").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  private def freshTable(name: String): String = {
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      spark.range(1, 11).toDF("id").withColumn("v", col("id") * 10L),
      statsCols = Seq("id"))
    root
  }

  private def content(root: String): Set[(Long, Long)] =
    TxnTable.read(spark, root).select("id", "v").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  test("ADD validates existing content; a valid contract records; drop " +
      "removes it") {
    val root = freshTable("t1")
    // existing rows have v in [10, 100]: an over-strict ADD refuses
    val e = intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, root, "v_big", "v >= 1000")
    }
    assert(e.getMessage.contains("existing rows violate"))
    assert(!TxnTable.constraints(spark, root).contains("v_big"))
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    assert(TxnTable.constraints(spark, root) === Map("v_pos" -> "v > 0"))
    // non-boolean and non-resolving expressions refuse at ADD
    intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, root, "bad", "no_such_col > 0")
    }
    spark.sql(s"ALTER TABLE $cat.db.t1 UNSET TBLPROPERTIES ('constraint.v_pos')")
    assert(TxnTable.constraints(spark, root).isEmpty)
  }

  test("a violating append refuses ATOMICALLY (zero version / file / " +
      "content drift) and names the constraint; a valid one admits") {
    val s = spark; import s.implicits._
    val root = freshTable("t2")
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    val before = TxnTable.latest(spark, root).get
    val e = intercept[IllegalArgumentException] {
      TxnTable.append(spark, root,
        Seq((11L, 110L), (12L, -5L)).toDF("id", "v"))
    }
    assert(e.getMessage.contains("'v_pos'") &&
      e.getMessage.contains("no rows were committed"))
    val after = TxnTable.latest(spark, root).get
    assert(after.version === before.version && after.files === before.files)
    assert(content(root) === (1L to 10L).map(i => (i, i * 10)).toSet)
    TxnTable.append(spark, root, Seq((11L, 110L)).toDF("id", "v"))
    assert(content(root).contains((11L, 110L)))
  }

  test("SQL-standard null semantics: NULL passes CHECK; NOT NULL is its " +
      "own spelled constraint") {
    val s = spark; import s.implicits._
    val root = s"$warehouse/db/t3"
    TxnTable.overwrite(spark, root,
      Seq((1L, Some(10L))).toDF("id", "v"))
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    // null v: CHECK is UNKNOWN -> passes
    TxnTable.append(spark, root, Seq((2L, None: Option[Long])).toDF("id", "v"))
    assert(TxnTable.read(spark, root).count() === 2L)
    // the NOT NULL spelling now refuses the nulls already present at ADD
    intercept[IllegalArgumentException] {
      TxnTable.addConstraint(spark, root, "v_set", "v IS NOT NULL")
    }
  }

  test("row-level SQL refuses in BOTH regimes, staged files aborted") {
    // copy-on-write
    val root = freshTable("t4")
    spark.sql(s"SELECT 1") // warm catalog
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    val before = TxnTable.latest(spark, root).get
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.db.t4 SET v = -1 WHERE id = 3")
    }
    val after = TxnTable.latest(spark, root).get
    assert(after.version === before.version)
    assert(content(root) === (1L to 10L).map(i => (i, i * 10)).toSet)
    // no staged debris: every data-pool file is referenced by a manifest
    assert(TxnTable.orphanFiles(spark, root, graceMs = 0L).isEmpty)
    // a valid UPDATE still lands
    spark.sql(s"UPDATE $cat.db.t4 SET v = 999 WHERE id = 3")
    assert(content(root).contains((3L, 999L)))

    // merge-on-read
    val root5 = freshTable("t5")
    TxnTable.setTableProperty(spark, root5, TxnTable.RowLevelModeKey,
      "merge-on-read")
    TxnTable.addConstraint(spark, root5, "v_pos", "v > 0")
    val b5 = TxnTable.latest(spark, root5).get
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.db.t5 SET v = -1 WHERE id = 3")
    }
    assert(TxnTable.latest(spark, root5).get.version === b5.version)
    assert(TxnTable.orphanFiles(spark, root5, graceMs = 0L).isEmpty)
    spark.sql(s"UPDATE $cat.db.t5 SET v = v + 1 WHERE id = 3")
    assert(content(root5).contains((3L, 31L)))
  }

  test("merge and streaming batches gate too") {
    val s = spark; import s.implicits._
    val root = freshTable("t6")
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    intercept[IllegalArgumentException] {
      TxnTable.mergeInto(spark, root,
        Seq((3L, -30L)).toDF("id", "v"), Seq("id"))
    }
    intercept[IllegalArgumentException] {
      TxnTable.appendBatch(spark, root,
        Seq((20L, -1L)).toDF("id", "v"), batchId = 0L, streamId = "s1")
    }
    intercept[IllegalArgumentException] {
      TxnTable.mergeBatch(spark, root,
        Seq((3L, -1L)).toDF("id", "v"), batchId = 0L, keyCols = Seq("id"),
        streamId = "s2")
    }
    assert(content(root) === (1L to 10L).map(i => (i, i * 10)).toSet)
    // valid batches land (and idempotently replay)
    assert(TxnTable.mergeBatch(spark, root,
      Seq((3L, 31L)).toDF("id", "v"), 1L, Seq("id"), "s2").nonEmpty)
    assert(content(root).contains((3L, 31L)))
  }

  test("constraints survive compaction, restore, and branch replay " +
      "(sidecar contract, not content)") {
    val s = spark; import s.implicits._
    val root = freshTable("t7")
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    TxnTable.compactTxn(spark, root, 1)
    val vRestorable = TxnTable.latest(spark, root).get.version
    TxnTable.append(spark, root, Seq((11L, 110L)).toDF("id", "v"))
    TxnTable.restore(spark, root, vRestorable)
    TxnTable.createBranch(spark, root, "dev")
    TxnTable.appendToBranch(spark, root, "dev",
      Seq((50L, 500L)).toDF("id", "v"))
    // after every maintenance shape, the contract still refuses
    intercept[IllegalArgumentException] {
      TxnTable.append(spark, root, Seq((12L, -1L)).toDF("id", "v"))
    }
    assert(TxnTable.constraints(spark, root) === Map("v_pos" -> "v > 0"))
  }

  test("SQL face: SET TBLPROPERTIES adds (and validates), SHOW surfaces, " +
      "UNSET drops") {
    freshTable("t8")
    spark.sql(s"ALTER TABLE $cat.db.t8 SET TBLPROPERTIES " +
      "('constraint.v_pos' = 'v > 0')")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.db.t8")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props.get("constraint.v_pos") === Some("v > 0"))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.t8 SET TBLPROPERTIES " +
        "('constraint.v_big' = 'v >= 1000')") // existing rows violate
    }
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.t8 VALUES (11, -1)")
    }
    spark.sql(s"ALTER TABLE $cat.db.t8 UNSET TBLPROPERTIES ('constraint.v_pos')")
    spark.sql(s"INSERT INTO $cat.db.t8 VALUES (11, -1)") // contract dropped
    assert(content(s"$warehouse/db/t8").contains((11L, -1L)))
  }

  test("torn property update read-repairs forward (the .next intent file " +
      "wins — a crash cannot silently revert the recorded mode)") {
    val root = freshTable("t9")
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read")
    // simulate the crash window: a COMPLETE .next exists, props.txt gone
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val props = new Path(s"$root/_txn/props.txt")
    val next = new Path(s"$root/_txn/props.txt.next")
    assert(fs.rename(props, next)) // next is by construction complete
    assert(TxnTable.tableProperties(spark, root)
      .get(TxnTable.RowLevelModeKey) === Some("merge-on-read"))
    assert(fs.exists(props) && !fs.exists(next)) // swap finished
  }
}
