package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction, UnboundFunction}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{DataType, LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import java.util

/** Catalog access to MDIO stores: `spark.sql.catalog.mdio =
  * graft.sources.MdioCatalog` exposes every store directory as a catalog
  * table — `spark.table("mdio.`/data/volume.mdio`")`, and crucially
  * `df.writeTo("mdio.`/data/volume.mdio`").append()`.
  *
  * Why a catalog when `format("mdio")` already exists: its
  * FunctionCatalog. Keyed scans (`spark.graft.scan.keyedPartitions`)
  * report their partitioning over the `chunk_<size>` transforms — the
  * catalog's only functions — which Spark resolves against the table's
  * own catalog; storage-partitioned joins of co-gridded stores need it.
  * Writes take the same route as the path-based sink:
  * `writeTo(...).append()` hands the frame to
  * [[MdioWriter.insertAligned]], whose owner shuffle gives each chunk (or
  * shard) file exactly one writer task.
  *
  * The identifier IS the store path (any namespace parts join with `/`):
  * there is no metastore to register into, matching the reference's
  * open-by-URI model (mdio/dataset.h Open). Tables are created with
  * [[MdioWriter.create]] (or SQL DDL through the provider), not
  * `createTable`.
  */
class MdioCatalog extends TableCatalog with FunctionCatalog {
  private var catalogName: String = "mdio"

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit =
    catalogName = name
  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  override def loadTable(ident: Identifier): Table = {
    val path = pathOf(ident)
    // only an ABSENT store maps to NoSuchTable; a present-but-broken one
    // must surface its real error (corrupt metadata, auth, IO), not be
    // masked as "table not found"
    if (!graft.zarr.VPath(path).exists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        Seq(catalogName, path))
    MdioTable(path, None)
  }

  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty // stores live at arbitrary URIs; no metastore to enumerate

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      "create MDIO stores from a spec: MdioWriter.create(MdioSpec.fromJson(...), path)")

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException("ALTER TABLE is not supported for mdio stores")

  override def dropTable(ident: Identifier): Boolean = {
    val path = pathOf(ident)
    try { MdioWriter.delete(path); true } catch { case _: Exception => false }
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException("RENAME TABLE is not supported for mdio stores")

  // ---- FunctionCatalog: the chunk ownership transform --------------------

  override def loadFunction(ident: Identifier): UnboundFunction =
    if (ident.namespace().isEmpty && ident.name().startsWith("chunk_"))
      // sized single-argument family `chunk_<size>(coord)` — the form
      // KeyGroupedPartitioning accepts (catalyst supports only
      // one-argument transforms as partition keys), used by MdioScan's
      // storage-partitioned-join partitioning report
      ident.name().stripPrefix("chunk_").toLongOption.filter(_ > 0)
        .map(SizedChunkFunction(_))
        .getOrElse(throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident))
    else throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)

  /** The `chunk_<size>` family is one function per chunk size, resolved on
    * demand; there is no finite list to enumerate. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] = Array.empty
}

/** `chunk_<size>(coord) = coord / size`: the ordinal of the size-`size`
  * chunk that owns a cell coordinate, with the chunk size baked into the
  * FUNCTION NAME — catalyst's KeyGroupedPartitioning accepts only
  * one-argument transforms as partition keys, so the storage-partitioned
  * join report uses this family; two scans are join-compatible exactly
  * when their canonical names (and so their grids) match. */
final case class SizedChunkFunction(size: Long) extends UnboundFunction {
  override def name(): String = s"chunk_$size"
  override def description(): String =
    s"chunk_$size(coord): ordinal of the size-$size chunk owning a coordinate"
  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 1 && inputType.fields.head.dataType == LongType,
      s"chunk_$size(coord: long), got $inputType")
    SizedChunkBound(size)
  }
}

final case class SizedChunkBound(size: Long) extends ScalarFunction[java.lang.Long]
    with org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[java.lang.Long, java.lang.Long] {
  override def inputTypes(): Array[DataType] = Array(LongType)
  override def resultType(): DataType = LongType
  override def name(): String = s"chunk_$size"
  override def canonicalName(): String = s"graft.mdio.chunk_$size"
  override def isDeterministic: Boolean = true
  override def isResultNullable: Boolean = false
  override def produceResult(input: InternalRow): java.lang.Long =
    input.getLong(0) / size

  /** Two chunk grids are JOIN-COMPATIBLE when one chunk size divides the
    * other: the finer side's ordinal reduces to the coarser grid by
    * integer division (`floor(cell/fine)/ratio == floor(cell/coarse)` for
    * non-negative cells since coarse = fine·ratio). Spark's
    * storage-partitioned join then coalesces the finer side's partition
    * groups onto the coarser key space instead of shuffling — two stores
    * on one survey grid with DIFFERENT chunkings still join with zero
    * exchanges under
    * `spark.sql.sources.v2.bucketing.allowCompatibleTransforms.enabled`.
    * `null` = not reducible w.r.t. `other` (Spark's none marker). */
  override def reducer(other: org.apache.spark.sql.connector.catalog.functions.ReducibleFunction[_, _])
      : org.apache.spark.sql.connector.catalog.functions.Reducer[java.lang.Long, java.lang.Long] =
    other match {
      case SizedChunkBound(coarser) if coarser > size && coarser % size == 0 =>
        SizedChunkReducer(coarser / size)
      case _ => null
    }
}

/** Maps a fine chunk ordinal onto a grid `ratio`× coarser. */
final case class SizedChunkReducer(ratio: Long)
    extends org.apache.spark.sql.connector.catalog.functions.Reducer[java.lang.Long, java.lang.Long] {
  override def reduce(k: java.lang.Long): java.lang.Long = k / ratio
}
