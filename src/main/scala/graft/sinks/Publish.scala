package graft.sinks

import java.util.concurrent.ConcurrentHashMap

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.EliminateSubqueryAliases
import org.apache.spark.sql.catalyst.expressions.{Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.planning.PhysicalOperation
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.catalyst.trees.TreePattern.CURRENT_LIKE
import org.apache.spark.sql.execution.datasources.{CatalogFileIndex, HadoopFsRelation, LogicalRelation, PartitioningAwareFileIndex}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.StampCache

/** Sinks + catalog (reference weather_etl.py:91-109, app/app.py:17-28):
  * K1 raw JSON text sink, K4 partitioned parquet publish + catalog
  * registration, K5 database get-or-create, K6 JSON-records serving.
  *
  * Deliberate semantic upgrade over the reference (SURVEY.md §7.4.6):
  * ONE `partitionBy("date")` table instead of a table-per-day naming
  * scheme (weather_etl.py:105) — date predicates prune partitions via the
  * catalog instead of clients assembling table names; overwrite mode
  * keeps the daily rerun idempotent (§2.12).
  */
object Publish {

  /** K1: raw-zone JSON text sink (the per-file `data/{date}/{city}.txt`
    * writes of weather_etl.py:38-40, as one distributed write). */
  def rawJson(df: DataFrame, dir: String): Unit =
    df.write.mode("overwrite").json(dir)

  /** Caller-supplied names are interpolated into SQL / catalog calls:
    * restrict to plain identifiers so a backtick or semicolon can't
    * break out (defense in depth — these come from config, not users). */
  private val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
  private def requireIdent(kind: String, name: String): Unit =
    require(Ident.matches(name), s"invalid $kind identifier: '$name'")

  /** K5 + K4: get-or-create the database, then publish as a single
    * date-partitioned parquet table registered in the catalog. */
  def publishPartitioned(spark: SparkSession, df: DataFrame,
                         path: String, db: String, table: String): Unit = {
    requireIdent("database", db)
    requireIdent("table", table)
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $db")
    df.write.mode("overwrite")
      .partitionBy("date")
      .option("path", path)
      .format("parquet")
      .saveAsTable(s"$db.$table")
  }

  /** K6 + F2: the serving path (app/app.py:25-28) — equality filter (or
    * the 'All' bypass) + JSON records, byte-identical to
    * `df.filter(col("city") === city).toJSON.collect()`.
    *
    * SERVING CONTRACT: one Spark job per published version. The first
    * request over a version collects `df`'s rows once, each as its JSON
    * record and its `city`; every later request filters that
    * driver-side answer and launches no job. The answer is keyed by
    * what `df`'s file leaves read now: their partitions pruned as the
    * optimizer prunes them, listed through the file-status cache a scan
    * of them lists through, as `path:len:mtime` per file. So any write
    * a recompute would see (a re-publish, SQL `INSERT`, a path
    * overwrite, `REFRESH TABLE` after a write outside Spark) changes
    * the key, and a request lists only the partitions it reads, no data.
    * One answer is kept per table directory, so a new day's partition
    * replaces the last one. A frame that also reads something other
    * than files (a local relation, a DSv2 table), reads the clock or a
    * random source, or whose `city` is not a string, takes the uncached
    * path: one job per request. `df` is response-sized by contract (one
    * row per city): 'All' returns every row, and the answer holds them
    * all. */
  def serveJson(df: DataFrame, city: String): String = {
    val records = answer(df) match {
      case Some(rows) =>
        if (city == "All") rows.map(_._2)
        else rows.collect { case (c, json) if c != null && c == city => json }
      case None =>
        val filtered = if (city == "All") df else df.filter(col("city") === city)
        filtered.toJSON.collect()
    }
    records.mkString("[", ",", "]")
  }

  /** Per (session, the leaves' table directories, their listing): each
    * frame's rows as `(city, JSON record)`, keyed by its canonical plan.
    * A new listing of the same directories evicts the old entry. At most
    * [[MaxFrames]] frames per listing. */
  private val answers =
    new StampCache[ConcurrentHashMap[LogicalPlan, Array[(String, String)]]]()
  private val MaxFrames = 64
  private val mapper = new ObjectMapper()

  private def answer(df: DataFrame): Option[Array[(String, String)]] = {
    val plan = df.queryExecution.analyzed
    val volatile = plan.collectWithSubqueries { case p => p }.exists(p =>
      p.containsPattern(CURRENT_LIKE) || !p.expressions.forall(_.deterministic))
    val cityCols = df.schema.filter(_.name.equalsIgnoreCase("city"))
      .map(f => f.name -> f.dataType)
    lazy val leaves = reads(plan)
    if (volatile || cityCols != Seq("city" -> StringType) || leaves.contains(None)) None
    else {
      val (dirs, listings) = leaves.flatten.unzip
      val byFrame = answers(df.sparkSession, dirs.flatten.distinct.sorted.mkString("\n"),
        listings.map(_.mkString("\n")).mkString("\n\n"))(new ConcurrentHashMap())
      if (byFrame.size > MaxFrames) byFrame.clear()
      Some(byFrame.computeIfAbsent(plan.canonicalized, _ =>
        df.toJSON.collect().map { json =>
          Option(mapper.readTree(json).get("city")).filterNot(_.isNull)
            .map(_.textValue).orNull -> json
        }))
    }
  }

  /** Per leaf of `plan`: its table directories and what it reads, or
    * None for a leaf that is not a file relation. A catalog leaf is
    * pruned as the optimizer prunes it, by the conjuncts over its
    * partition columns in the filters directly above it, so a request
    * lists only the partitions the frame reads. Each occurrence of a
    * leaf takes the filters of its own chain of projections and
    * filters. */
  private def reads(plan: LogicalPlan): Seq[Option[(Seq[String], Seq[String])]] =
    EliminateSubqueryAliases(plan) match {
      case p @ PhysicalOperation(_, filters, l: LogicalRelation) =>
        fileLeaf(l, filters) +: p.collect { case n => n.subqueries }.flatten.flatMap(reads)
      case l: LeafNode => Seq(fileLeaf(l, Nil))
      case p => (p.children ++ p.subqueries).flatMap(reads)
    }

  /** A file leaf's table directories and the sorted `path:len:mtime` of
    * the files it reads under `filters`, or None for any other leaf. A
    * catalog index lists through its file-status cache, the listing a
    * scan of it reads (`REFRESH TABLE` clears it); a path-based index
    * lists once, when the frame is built. The directory is the catalog
    * table's location, or a path root (a listed file's parent) above
    * any Hive `k=v` segment, so it stays put when the partitions read
    * change. */
  private def fileLeaf(leaf: LeafNode, filters: Seq[Expression])
      : Option[(Seq[String], Seq[String])] = leaf match {
    case LogicalRelation(fs: HadoopFsRelation, _, table, _, _) =>
      val index = fs.location match {
        case c: CatalogFileIndex =>
          val parts = fs.partitionSchema.fieldNames.toSet
          Some(c.filterPartitions(filters.filter(f => !SubqueryExpression.hasSubquery(f) &&
            f.references.forall(a => parts(a.name) && leaf.outputSet.contains(a)))))
        case idx: PartitioningAwareFileIndex => Some(idx)
        case _ => None
      }
      index.map { idx =>
        val files = idx.allFiles()
        val listed = files.map(_.getPath).toSet
        val dirs = table.map(t => Seq(t.location.toString)).getOrElse(
          idx.rootPaths.map(r => tableDir(if (listed(r)) r.getParent else r).toString))
        (dirs, files.map(f => s"${f.getPath}:${f.getLen}:${f.getModificationTime}").sorted)
      }
    case _ => None
  }

  @scala.annotation.tailrec
  private def tableDir(p: Path): Path =
    if (p.getParent != null && p.getName.contains("=")) tableDir(p.getParent) else p
}
