package graft.functions

import java.math.{BigDecimal => JBigDecimal}

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.{ColumnMapping, TableConfig, TargetType}

/** The reference's transform core `convert_columns`
  * (subgraph_extractor/cli.py:110-168), re-expressed as declarative
  * Column algebra so every step stays inside Catalyst/whole-stage
  * codegen and the physical plan remains one projection over the scan:
  *
  *  - E1 downscale: integer floor division by a scale factor (lossy by
  *    design — wei→gwei style)
  *  - E2 clamp-with-default: `v <= max ? v : default`
  *  - E3 validity flag: boolean companion column `v <= max`
  *  - E4 identity re-type: new column = old column at a declared type
  *  - E5 uint256 → 32-byte big-endian binary for every source `numeric`
  *  - E6 schema patch/cast to the declared target types
  *  - E7 empty relations keep the full output schema (free in Spark —
  *    schema is plan-time, not data-time)
  *
  * Derived columns are computed from the ORIGINAL source values, then the
  * original numeric column itself is converted to the binary carrier —
  * matching the reference's evaluation order (mappings read `df[column]`
  * before the bytes conversion loop rewrites it).
  */
object Transforms {

  /** `_block_number` (uint32 in the reference, cli.py:20-21) rides in a
    * Long — Spark has no unsigned types and Long covers uint32 loss-free.
    */
  val BlockColumn = "_block_number"

  /** Source-type → engine-type normalization (reference TYPE_MAPPINGS,
    * cli.py:18): numeric→bytes(uint256 carrier), text→string,
    * boolean→bool, bytea→bytes.
    */
  def normalizeSourceColumn(c: Column, databaseType: String): Column =
    databaseType match {
      case "numeric" => GraftFunctions.uint256_encode(c)
      case "text"    => c.cast(StringType)
      case "boolean" => c.cast(BooleanType)
      case "bytea"   => c.cast(BinaryType)
      case _         => c
    }

  private def bigIntLit(v: BigInt): Column = {
    require(v.abs.toString.length <= 38,
      s"literal exceeds Decimal(38): $v — route through the uint256 carrier")
    lit(new JBigDecimal(v.bigInteger)).cast(DecimalType(38, 0))
  }

  /** Exact integer floor division for non-negative decimals, at FULL
    * Decimal(38) range. Spark's own decimal division is unusable here
    * twice over: `floor(a / b)` rounds the scale-6 quotient HALF_UP
    * across the floor boundary, and even the exact `(a - a%b)/b` form
    * promotes to Decimal(38,6) — so any quotient >= 10^32 overflows the
    * result type (error under ANSI, silent null otherwise). The engine's
    * uint256 carrier division is BigInteger floor division with codegen,
    * exact for every representable value; the encode/decode pair stays a
    * single projection (and the round-trip eliminator keeps the
    * non-divided path carrier-free).
    */
  private def floorDiv(c: Column, d: BigInt): Column = {
    require(d > 0, s"downscale factor must be positive: $d")
    val dec = c.cast(DecimalType(38, 0))
    if (d == BigInt(1)) dec
    else GraftFunctions.uint256_to_decimal(
      GraftFunctions.uint256_div(
        GraftFunctions.uint256_encode(dec),
        GraftFunctions.uint256_encode(bigIntLit(d))))
  }

  /** Derived columns for one source column (E1-E4), in mapping order.
    * Returns (newColumnName, column) pairs; validity columns follow their
    * value column, as in the reference.
    */
  def derivedColumns(source: Column, mappings: Seq[ColumnMapping]): Seq[(String, Column)] =
    mappings.flatMap { m =>
      val base: Column = m.downscale match {
        case Some(d) => floorDiv(source, d)
        case None    => source.cast(DecimalType(38, 0))
      }
      val target = TargetType.toSpark(m.toType)
      m.maxValue match {
        case Some(max) =>
          val default = m.default.getOrElse(throw new IllegalArgumentException(
            s"mapping ${m.name}: max_value requires default"))
          val inRange = base <= bigIntLit(max)
          val clamped = when(inRange, base).otherwise(bigIntLit(default)).cast(target)
          Seq(m.name -> clamped) ++
            m.validityColumn.map(v => v -> inRange.as(v))
        case None =>
          Seq(m.name -> castTo(base, m.toType, target))
      }
    }

  private def castTo(base: Column, t: TargetType.Value, target: DataType): Column =
    t match {
      case TargetType.Bytes => GraftFunctions.uint256_encode(base)
      case _                => base.cast(target)
    }

  /** Full convert_columns: derived columns appended (sorted by source
    * column name for deterministic output), source `numeric` columns
    * rewritten to the uint256 carrier, `_block_number` forced to its
    * Long carrier. One `select` — one Catalyst projection.
    */
  def convertColumns(
      df: DataFrame,
      databaseTypes: Map[String, String],
      table: TableConfig): DataFrame = {
    val derived = table.columnMappings.toSeq.sortBy(_._1).flatMap {
      case (sourceCol, mappings) => derivedColumns(col(sourceCol), mappings)
    }
    val originals = df.columns.toSeq.map { name =>
      if (name == BlockColumn) col(name).cast(LongType).as(name)
      else databaseTypes.get(name) match {
        case Some(dt) => normalizeSourceColumn(col(name), dt).as(name)
        case None     => col(name)
      }
    }
    df.select(originals ++ derived.map { case (n, c) => c.as(n) }: _*)
  }
}
