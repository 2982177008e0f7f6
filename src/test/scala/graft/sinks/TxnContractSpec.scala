package graft.sinks

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.sources.GraftCatalog

/** The VERSIONED table contract: every property change (row-level
  * mode/isolation, CHECK constraints) is recorded against the head
  * version it was made at in an append-only change log, giving time
  * travel the contract AS OF version N ([[TxnTable.propertiesAt]],
  * CHECK constraints included) and an audit surface
  * (`db.t.properties` / `db.t.property_history` metadata tables) —
  * while WRITE-time semantics stay on the current `props.txt` exactly
  * as before (time travel must never flip a table's operational mode).
  * A change made while the head is version H is in force FROM H; a
  * table whose properties predate the log gets a SEED baseline at
  * version 0 the first time it is changed post-upgrade. */
class TxnContractSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val cat = "graft_ctr_cat"
  private lazy val warehouse: String = {
    val w = Files.createTempDirectory("graft_ctr").toString
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", w)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    w
  }

  private def table(name: String): String = {
    val root = s"$warehouse/db/$name"
    TxnTable.overwrite(spark, root,
      spark.range(1, 11).toDF("id").withColumn("v", col("id") * 10L),
      statsCols = Seq("id"))
    root
  }

  test("propertiesAt replays the change log: each change is in force " +
      "from the head version it was made at; unset removes it") {
    val root = table("c1")
    val v0 = TxnTable.latest(spark, root).get.version
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read") // recorded at v0
    TxnTable.append(spark, root,
      spark.range(11, 16).toDF("id").withColumn("v", col("id") * 10L)) // v0+1
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0") // recorded at v0+1
    TxnTable.append(spark, root,
      spark.range(16, 21).toDF("id").withColumn("v", col("id") * 10L)) // v0+2
    spark.sql(s"ALTER TABLE $cat.db.c1 UNSET TBLPROPERTIES ('constraint.v_pos')") // recorded at v0+2

    assert(TxnTable.propertiesAt(spark, root, v0) ===
      Map(TxnTable.RowLevelModeKey -> "merge-on-read"))
    assert(TxnTable.propertiesAt(spark, root, v0 + 1) ===
      Map(TxnTable.RowLevelModeKey -> "merge-on-read",
        s"${TxnTable.ConstraintKeyPrefix}v_pos" -> "v > 0"))
    // the drop at v0+2 takes effect AT v0+2
    assert(TxnTable.propertiesAt(spark, root, v0 + 2) ===
      Map(TxnTable.RowLevelModeKey -> "merge-on-read"))
    // and the CURRENT contract agrees with the replayed head
    assert(TxnTable.propertiesAt(spark, root,
      TxnTable.latest(spark, root).get.version) ===
      TxnTable.tableProperties(spark, root))
  }

  test("the metadata tables: properties (current and VERSION AS OF) " +
      "and property_history (audit rows, ascending)") {
    val root = table("c2")
    val v0 = TxnTable.latest(spark, root).get.version
    // the SQL ALTER path must be recorded exactly like the API path
    spark.sql(s"ALTER TABLE $cat.db.c2 SET TBLPROPERTIES " +
      s"('${TxnTable.ConstraintKeyPrefix}id_pos' = 'id > 0')")
    TxnTable.append(spark, root,
      spark.range(11, 16).toDF("id").withColumn("v", col("id") * 10L))
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelIsolationKey,
      "snapshot")

    val props = spark.sql(s"SELECT key, value FROM $cat.db.c2.properties")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props === Map(
      s"${TxnTable.ConstraintKeyPrefix}id_pos" -> "id > 0",
      TxnTable.RowLevelIsolationKey -> "snapshot"))
    // AS OF v0: only the constraint was in force
    val atV0 = spark.sql(
      s"SELECT key, value FROM $cat.db.c2.properties VERSION AS OF $v0")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(atV0 === Map(s"${TxnTable.ConstraintKeyPrefix}id_pos" -> "id > 0"))

    val hist = spark.sql(s"SELECT version, op, key, value " +
        s"FROM $cat.db.c2.property_history ORDER BY version, ts")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))
    assert(hist === Seq(
      (v0, "SET", s"${TxnTable.ConstraintKeyPrefix}id_pos", "id > 0"),
      (v0 + 1, "SET", TxnTable.RowLevelIsolationKey, "snapshot")))
    // ts populated on every row
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.c2.property_history " +
      "WHERE ts IS NULL").head.getLong(0) === 0L)
  }

  test("a legacy table (properties but no log) answers every version " +
      "with its current contract, and SEEDs a version-0 baseline on " +
      "its first post-upgrade change") {
    val root = table("c3")
    TxnTable.setTableProperty(spark, root, TxnTable.RowLevelModeKey,
      "merge-on-read")
    // simulate a pre-log table: drop the change log it just wrote
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new Path(s"$root/_txn/props"), true))
    assert(TxnTable.propertiesAt(spark, root, 0L) ===
      Map(TxnTable.RowLevelModeKey -> "merge-on-read")) // legacy fallback
    // first post-upgrade change seeds the baseline at version 0
    TxnTable.addConstraint(spark, root, "v_pos", "v > 0")
    val log = spark.sql(s"SELECT version, op, key " +
        s"FROM $cat.db.c3.property_history ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(log.head === (0L, "SEED", TxnTable.RowLevelModeKey))
    assert(log.last._2 === "SET" && log.last._3 ===
      s"${TxnTable.ConstraintKeyPrefix}v_pos")
    assert(TxnTable.propertiesAt(spark, root, 0L)
      .get(TxnTable.RowLevelModeKey).contains("merge-on-read"))
  }

  test("write-time semantics are UNCHANGED: enforcement uses the " +
      "current contract, never a historical one; values round-trip " +
      "through the log encoding (tabs, unicode, '=')") {
    val root = table("c4")
    TxnTable.addConstraint(spark, root, "v_cap", "v <= 200")
    intercept[Exception] { // current constraint gates the write
      TxnTable.append(spark, root,
        spark.range(21, 22).toDF("id").withColumn("v", lit(999L)))
    }
    spark.sql(s"ALTER TABLE $cat.db.c4 UNSET TBLPROPERTIES ('constraint.v_cap')")
    TxnTable.append(spark, root, // dropped: the same batch lands
      spark.range(21, 22).toDF("id").withColumn("v", lit(999L)))
    assert(TxnTable.read(spark, root).count() === 11L)
    // an expression full of encoding hazards survives the log verbatim
    val gnarly = "v >= 0 OR 'α\tβ=γ' = 'x'"
    TxnTable.addConstraint(spark, root, "gnarly", gnarly)
    assert(TxnTable.constraints(spark, root)("gnarly") === gnarly)
    val head = TxnTable.latest(spark, root).get.version
    assert(TxnTable.propertiesAt(spark, root, head)(
      s"${TxnTable.ConstraintKeyPrefix}gnarly") === gnarly)
  }
}
