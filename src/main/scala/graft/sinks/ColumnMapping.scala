package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructField, StructType}

/** Logical→physical COLUMN MAPPING for the txn format — what makes
  * `ALTER TABLE ... RENAME COLUMN` and `DROP COLUMN` metadata-only
  * operations on a format whose files are immutable parquet resolved
  * BY NAME (the exact reason [[TxnTable.alterTable]] used to refuse
  * them: a rename would silently orphan every existing file's data).
  *
  * The scheme is Iceberg's field-identity idea carried in the schema
  * itself instead of numeric field ids (public spec §Schemas — renames
  * change metadata, never data; Delta column mapping `name` mode is the
  * same design):
  *
  *  - every column's PHYSICAL name — the name actually stored in the
  *    parquet files — is its name AT BIRTH, frozen forever. A rename
  *    changes only the LOGICAL (user-visible) name; the physical name
  *    rides along as [[PhysKey]] metadata on the `StructField`.
  *  - a DROP does not touch files either: the field stays in the
  *    recorded schema as a TOMBSTONE (logical name `__dropped_<phys>`,
  *    [[DroppedKey]] metadata) that readers strip. The tombstone is
  *    what makes RE-ADDING the same name sound: the new column gets a
  *    FRESH physical name (`name#2`, `name#3`, …), so old files'
  *    orphaned values can never resurrect into it — they read as null
  *    exactly like any pre-evolution file.
  *
  * Because the mapping lives in `StructField.metadata`, it serializes
  * inside the manifest's existing `#schema` JSON and is carried by
  * every commit path that carries the schema — append, merge, compact,
  * branch, restore — with zero per-path threading. Tables that never
  * rename or drop have no metadata keys, `hasMapping` is false, and
  * every translation below is the identity (same DataFrame reference,
  * same plan — byte-stable plan snapshots).
  *
  * All manifest METADATA (per-file stats/bloom keys, `statsCols`,
  * `bloomCols`, MoR delete columns, transform sources) stays in
  * PHYSICAL names — it describes file contents, which never change.
  * User-facing APIs translate at the boundary ([[physName]]) and the
  * read path aliases physical→logical after the scan
  * ([[aliasToLogical]]); rows are positional, so the alias is a
  * zero-cost projection rename. */
object ColumnMapping {

  /** Field-metadata key: the column's frozen physical (at-birth) name. */
  val PhysKey = "graft.phys"
  /** Field-metadata key: this field is a dropped column's tombstone. */
  val DroppedKey = "graft.dropped"
  /** Tombstones' logical-name prefix — reserved; incoming data may not
    * use it (it would collide with the drop encoding). */
  val TombstonePrefix = "__dropped_"

  /** The physical (file) name of a field — [[PhysKey]] metadata if a
    * rename ever happened, else the field name itself. */
  def physOf(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name

  def isDropped(f: StructField): Boolean =
    f.metadata.contains(DroppedKey) && f.metadata.getBoolean(DroppedKey)

  /** True iff any rename or drop ever happened — every mapped-table
    * code path is gated on this so unmapped tables take the exact
    * pre-existing code path (same plans, same bytes). */
  def hasMapping(sc: StructType): Boolean =
    sc.fields.exists(f => isDropped(f) || physOf(f) != f.name)

  private def stripKeys(m: Metadata): Metadata = {
    val b = new MetadataBuilder().withMetadata(m)
    b.remove(PhysKey); b.remove(DroppedKey); b.build()
  }

  /** The USER-VISIBLE schema: tombstones stripped, mapping metadata
    * removed (it is bookkeeping, not column semantics — and leaving it
    * would poison schema equality checks and leak into downstream
    * writes). This is what SQL `DESCRIBE`, DSv2 `Table.schema()` and
    * [[TxnTable.read]] results expose. */
  def logicalView(sc: StructType): StructType =
    StructType(sc.fields.filterNot(isDropped)
      .map(f => f.copy(metadata = stripKeys(f.metadata))))

  /** The FILE-SIDE schema: live fields under their physical names —
    * what the parquet scan is pinned to. Positionally identical to
    * [[logicalView]] (same fields, same order, same types), which is
    * what makes the post-scan rename a pure relabeling. */
  def physicalSchema(sc: StructType): StructType =
    StructType(sc.fields.filterNot(isDropped)
      .map(f => f.copy(name = physOf(f), metadata = stripKeys(f.metadata))))

  /** Translate ONE user-facing column name to its physical name —
    * the boundary every column-name-taking API runs its arguments
    * through. Unknown names pass through unchanged (they may address a
    * transform-derived column like `day_ts`, which is not in the
    * schema; those derive from physical sources and never remap). */
  def physName(sc: StructType, logical: String): String =
    sc.fields.find(f => !isDropped(f) && f.name == logical)
      .map(physOf).getOrElse(logical)

  /** Inverse of [[physName]] for surfacing recorded (physical)
    * metadata column names to users. */
  def logicalName(sc: StructType, physical: String): String =
    sc.fields.find(f => !isDropped(f) && physOf(f) == physical)
      .map(_.name).getOrElse(physical)

  /** Rename `df`'s columns logical→physical per `sc` before staging.
    * Identity (same reference) when the table has no mapping or the
    * frame already matches the physical names. Columns of `df` not in
    * `sc` (genuinely new columns mid-evolution) must already carry
    * their allocated physical name via [[allocate]]. */
  def toPhysical(df: DataFrame, sc: StructType): DataFrame = {
    if (!hasMapping(sc)) return df
    val m = sc.fields.filterNot(isDropped).map(f => f.name -> physOf(f)).toMap
    if (df.columns.forall(c => m.getOrElse(c, c) == c)) df
    else df.toDF(df.columns.map(c => m.getOrElse(c, c)): _*)
  }

  /** Alias a PHYSICAL-named scan back to logical names (positional —
    * the scan was pinned to [[physicalSchema]], whose field order IS
    * the logical order). Identity when unmapped. */
  def aliasToLogical(df: DataFrame, sc: StructType): DataFrame = {
    if (!hasMapping(sc)) return df
    val logical = sc.fields.filterNot(isDropped).map(_.name)
    require(df.columns.length == logical.length,
      s"mapped scan arity ${df.columns.length} != schema arity ${logical.length}")
    df.toDF(logical: _*)
  }

  /** Every physical name the table has EVER used — live columns' plus
    * tombstones'. Re-adding a dropped (or stale-writer-renamed) name
    * must not collide with any of these. */
  private def usedPhys(sc: StructType): Set[String] = sc.fields.map(physOf).toSet

  /** Assign fresh physical names to fields of `evolved` that are NEW
    * relative to `prior` and whose name collides with a physical name
    * the table has already used (the re-added-after-drop case, or a
    * stale writer re-introducing a renamed column's old name). The
    * fresh name is `<name>#2`, `<name>#3`, … — '#' is legal in parquet
    * column names and illegal in the manifest's stats encoding only
    * for METADATA columns, which fresh allocations are not (yet).
    * No-op (same reference) for unmapped tables. */
  def allocate(prior: Option[StructType], evolved: StructType): StructType = {
    val p = prior.getOrElse(return evolved)
    if (!hasMapping(p)) return evolved
    val priorNames = p.fieldNames.toSet
    var used = usedPhys(p)
    val out = evolved.fields.map { f =>
      if (priorNames.contains(f.name) || !used.contains(physOf(f))) {
        used += physOf(f); f
      } else {
        val fresh = Iterator.from(2).map(i => s"${f.name}#$i")
          .find(!used.contains(_)).get
        used += fresh
        f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysKey, fresh).build())
      }
    }
    StructType(out)
  }

  /** RENAME COLUMN in the recorded schema: logical name changes,
    * physical name freezes to [[physOf]] the first time. Refuses
    * unknown source, target collisions (live names and the tombstone
    * prefix). Renaming a column BACK to its birth (physical) name makes
    * its mapping the identity again — the bookkeeping is REMOVED, not
    * kept vestigially: a stale [[PhysKey]] equal to the field name
    * would flip [[hasMapping]] false while still poisoning
    * metadata-sensitive schema equality on the unmapped fast paths
    * (found by MappingLawsProps: rename away, rename back, ADD COLUMN
    * refused a target identical up to the leftover metadata). */
  def rename(sc: StructType, from: String, to: String): StructType = {
    val i = sc.fields.indexWhere(f => !isDropped(f) && f.name == from)
    require(i >= 0, s"RENAME COLUMN: no column '$from'")
    require(!sc.fields.zipWithIndex.exists { case (f, j) =>
      j != i && !isDropped(f) && f.name == to },
      s"RENAME COLUMN: column '$to' already exists")
    require(!to.startsWith(TombstonePrefix),
      s"RENAME COLUMN: prefix '$TombstonePrefix' is reserved")
    val f = sc.fields(i)
    val renamed =
      if (to == physOf(f)) f.copy(name = to, metadata = stripKeys(f.metadata))
      else f.copy(name = to,
        metadata = new MetadataBuilder().withMetadata(f.metadata)
          .putString(PhysKey, physOf(f)).build())
    StructType(sc.fields.updated(i, renamed))
  }

  /** DROP COLUMN in the recorded schema: the field becomes a tombstone
    * (`__dropped_<phys>`, [[DroppedKey]]) that readers strip and
    * [[allocate]] consults. Caller is responsible for refusing drops of
    * columns the table's METADATA still depends on (stats/bloom/delete
    * columns, transform sources) — [[TxnTable.alterTable]] owns that
    * check, where the sets live. */
  def drop(sc: StructType, name: String): StructType = {
    val i = sc.fields.indexWhere(f => !isDropped(f) && f.name == name)
    require(i >= 0, s"DROP COLUMN: no column '$name'")
    val f = sc.fields(i)
    val tomb = f.copy(name = s"$TombstonePrefix${physOf(f)}",
      metadata = new MetadataBuilder().withMetadata(f.metadata)
        .putString(PhysKey, physOf(f)).putBoolean(DroppedKey, true).build())
    StructType(sc.fields.updated(i, tomb))
  }

  /** Incoming data may not claim the tombstone namespace — refused at
    * evolution time, where new columns enter. */
  def requireNoReserved(incoming: StructType): Unit =
    incoming.fieldNames.filter(_.startsWith(TombstonePrefix)).foreach(n =>
      throw new IllegalArgumentException(
        s"column name '$n': prefix '$TombstonePrefix' is reserved for " +
          "drop tombstones"))
}
