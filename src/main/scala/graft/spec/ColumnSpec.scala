package graft.spec

import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Which alias view a schema is rendered under — the reference's
  * `AliasType = "serialization" | "validation"`
  * (`/root/reference/src/fastdataframe/core/model.py:17`,
  * `core/pydantic/field_info.py:5-47`). */
sealed trait AliasType
object AliasType {
  case object Serialization extends AliasType
  case object Validation extends AliasType
}

/** One column of a [[TableSpec]]: Spark type + nullability + the reference's
  * `ColumnInfo` metadata (`core/annotation.py:9-23`: is_unique,
  * bool_true_string, bool_false_string, date_format) + data constraints.
  *
  * Scala has no pydantic-style runtime annotations, so the declarative model
  * is an explicit value (SURVEY.md §7.4); `FastDataframeModel.from_base_model`
  * (`core/model.py:31-110`) becomes plain construction / [[TableSpec.fromStructType]].
  */
final case class ColumnSpec(
    name: String,
    dataType: DataType,
    nullable: Boolean = false,
    serializationAlias: Option[String] = None,
    validationAlias: Option[String] = None,
    isUnique: Boolean = false,
    boolTrueString: String = "true",
    boolFalseString: String = "false",
    dateFormat: String = "%Y-%m-%d",
    constraints: Seq[Constraint] = Nil,
    /** AliasChoices analog: candidate validation aliases; resolved like
      * `get_validation_alias` (`core/pydantic/field_info.py:19-47`) —
      * serialization alias excluded, >1 survivor is an error. Wins over
      * [[validationAlias]] when non-empty. */
    validationAliasChoices: Seq[String] = Nil,
    /** JSON-schema `format` override for types Spark cannot express —
      * `Some("uuid")` marks a StringType column as a declared UUID, emitted
      * into the schema lattice so uuid-vs-plain-string mismatches are
      * REJECTED (parity with `iceberg/json_schema.py:52-55`). */
    format: Option[String] = None,
    /** Cast-time refinement for integral targets Spark lacks (uint8/16/32/
      * 64, int128): selects the range-guarded strict cast in CastPlanner.
      * See [[graft.cast.CastPlanner.integralHints]]. */
    castHint: Option[String] = None,
    /** Nested-model fields: the reference resolves aliases RECURSIVELY
      * inside nested BaseModels (`polars/_types.py:56-104` applies
      * alias_func to every nested field, any depth). When non-empty, this
      * column's struct type is DERIVED from the child specs under the
      * requested alias view, so `toStructField(Validation)` renames inner
      * fields too. Supports struct columns and array-of-struct columns
      * (list[BaseModel] → pl.List(pl.Struct), `_types.py:31-40`). */
    children: Seq[ColumnSpec] = Nil,
) {

  /** Alias resolution: each view falls back to the field name — the collapse
    * of pydantic's `serialization_alias → alias → field_name` /
    * `validation_alias → alias → field_name` chains
    * (`core/pydantic/field_info.py:5-47`) with the shared `alias` folded into
    * the per-view option. */
  def nameFor(alias: AliasType): String = alias match {
    case AliasType.Serialization => serializationAlias.getOrElse(name)
    case AliasType.Validation =>
      if (validationAliasChoices.nonEmpty)
        ColumnSpec.resolveValidationAlias(validationAliasChoices,
          serializationAlias.getOrElse(name))
      else validationAlias.getOrElse(name)
  }

  /** All data-level checks for this column: NotNull derived from
    * non-nullability (`polars/model.py:397-408`) + declared constraints.
    * Uniqueness is global, enforced by UniquenessCheck, not here. */
  def rowConstraints: Seq[Constraint] =
    (if (!nullable) Seq(NotNull) else Nil) ++ constraints

  /** Column type under an alias view: leaf columns keep `dataType`; nested-
    * model columns rebuild the struct from [[children]] so per-field aliases
    * apply recursively (parity with `_convert_basemodel_to_struct`,
    * `polars/_types.py:56-104`). Child nullability/types come from the child
    * specs themselves; an ArrayType wrapper (list-of-model) is preserved. */
  def resolvedDataType(alias: AliasType): DataType =
    if (children.isEmpty) dataType
    else {
      val inner = StructType(children.map(_.toStructField(alias)))
      dataType match {
        case ArrayType(_, containsNull) => ArrayType(inner, containsNull)
        case _ => inner
      }
    }

  def toStructField(alias: AliasType = AliasType.Serialization): StructField =
    StructField(nameFor(alias), resolvedDataType(alias), nullable, metadata = metadataJson)

  /** Embed the reconstruction document in StructField metadata — parity with
    * `ColumnInfo.__get_pydantic_core_schema__` (`core/annotation.py:25-58`):
    * `{_fastdataframe: {type: "FastDataframe", version: "1.0",
    *   properties: {is_unique}}}`. */
  private def metadataJson: Metadata = {
    val doc =
      s"""{"is_unique": $isUnique,
         | "_fastdataframe": {"type": "FastDataframe", "version": "1.0",
         |  "properties": {"is_unique": $isUnique}}}""".stripMargin
    Metadata.fromJson(doc)
  }
}

object ColumnSpec {

  /** Annotation-convenience defaults (`polars/_types.py:144-162`): a bare
    * `Decimal` annotation becomes `pl.Decimal(10, 2)` in the reference. */
  val DecimalDefault: DecimalType = DecimalType(10, 2)

  /** Bare-`Decimal` column with the reference's default precision/scale. */
  def decimalColumn(name: String, nullable: Boolean = false): ColumnSpec =
    ColumnSpec(name, DecimalDefault, nullable)

  /** `Categorical` analog (`_types.py:146-147`): Spark has no dictionary
    * TYPE (Parquet dictionary-encodes strings at the storage layer), so a
    * categorical column is StringType plus an optional declared vocabulary
    * enforced as a data constraint — the documented deviation. */
  def categoricalColumn(name: String, vocabulary: Seq[String] = Nil,
      nullable: Boolean = false): ColumnSpec =
    ColumnSpec(name, StringType, nullable,
      constraints = if (vocabulary.nonEmpty) Seq(InSet(vocabulary)) else Nil)

  /** AliasChoices flattening (`get_validation_alias`,
    * `core/pydantic/field_info.py:28-47`): drop the serialization alias from
    * the candidates; none left ⇒ the serialization alias itself; exactly one
    * ⇒ it; more ⇒ error with the reference's message bytes (Python list
    * repr of the surviving aliases). */
  def resolveValidationAlias(choices: Seq[String], serializationAlias: String): String = {
    val aliases = choices.filterNot(_ == serializationAlias)
    if (aliases.isEmpty) serializationAlias
    else if (aliases.size == 1) aliases.head
    else throw new IllegalArgumentException(
      s"Invalid validation alias: [${aliases.map(a => s"'$a'").mkString(", ")}]")
  }

  /** Reconstruct the ColumnInfo portion from a JSON metadata document,
    * with the same validation gates and error messages as
    * `ColumnInfo.from_schema` (`core/annotation.py:88-125`). */
  def infoFromJson(json: String): ColumnSpec = {
    val parsed = JsonMethods.parse(json)
    val extra = parsed \ "json_schema_extra" match {
      case JNothing => parsed
      case other => other
    }
    val doc = extra \ "_fastdataframe"
    doc \ "type" match {
      case JString("FastDataframe") => ()
      case _ => throw new IllegalArgumentException(
        "Schema does not contain FastDataframe information")
    }
    doc \ "version" match {
      case JString("1.0") => ()
      case JString(v) => throw new IllegalArgumentException(
        s"Unsupported FastDataframe version: $v")
      case _ => throw new IllegalArgumentException(
        "Unsupported FastDataframe version: None")
    }
    val props = doc \ "properties" match {
      case o: JObject => o
      case _ => throw new IllegalArgumentException(
        "Invalid properties in FastDataframe document")
    }
    val isUnique = props \ "is_unique" match {
      case JBool(b) => b
      case _ => throw new IllegalArgumentException(
        "Missing required properties: Set(is_unique)")
    }
    ColumnSpec(name = "", dataType = StringType, nullable = true, isUnique = isUnique)
  }
}

/** A declarative table schema + constraint set — the engine's equivalent of a
  * `FastDataframeModel` subclass (`core/model.py:27`).
  *
  * @param keyCols columns identifying a row in violation output (north rule
  *                keys violations on clip_id, not row indices — global row
  *                numbers don't scale; SURVEY.md §7.4 risk 3)
  * @param partitionCols physical/summary partitioning axes (e.g. codec)
  */
final case class TableSpec(
    name: String,
    columns: Seq[ColumnSpec],
    keyCols: Seq[String] = Nil,
    partitionCols: Seq[String] = Nil,
) {
  require(columns.map(_.name).distinct.size == columns.size,
    s"duplicate column names in spec $name")

  def column(n: String): ColumnSpec =
    columns.find(_.name == n).getOrElse(
      throw new NoSuchElementException(s"no column $n in spec $name"))

  /** `get_polars_schema` analog (`polars/model.py:150-165`). */
  def toStructType(alias: AliasType = AliasType.Serialization): StructType =
    StructType(columns.map(_.toStructField(alias)))

  /** `get_stringified_schema` (`polars/model.py:167-182`): every column as
    * StringType — the raw-CSV-ingest shape fed to the cast planner. */
  def stringified(alias: AliasType = AliasType.Serialization): StructType =
    StructType(columns.map(c =>
      StructField(c.nameFor(alias), StringType, c.nullable)))

  /** Required (non-nullable) column names under the given alias view. */
  def requiredColumns(alias: AliasType = AliasType.Serialization): Seq[String] =
    columns.filterNot(_.nullable).map(_.nameFor(alias))

  /** Bidirectional alias rename map, only for columns present in `from`
    * (`rename`, `polars/model.py:184-243`; only columns present in both df
    * and model map, `tests/polars/test_model.py:540-558`). */
  def renameMap(from: AliasType, to: AliasType, present: Seq[String]): Map[String, String] =
    columns.flatMap { c =>
      val f = c.nameFor(from)
      if (present.contains(f)) Some(f -> c.nameFor(to)) else None
    }.toMap
}

object TableSpec {
  /** `from_base_model` analog (`core/model.py:31-110`): lift an existing
    * Spark schema into a spec (constraints added fluently afterwards). */
  def fromStructType(name: String, st: StructType): TableSpec =
    TableSpec(name, st.fields.toSeq.map(f =>
      ColumnSpec(f.name, f.dataType, f.nullable)))

  /** Case-class derivation (SURVEY §7.4 risk 4 / the pydantic-model
    * ergonomics): schema via Spark's own product encoder, so nullability
    * follows the encoder exactly as `Dataset[T]` would see it — primitive
    * fields required, `Option[T]` and all reference-typed fields (String,
    * collections, nested models) nullable; tighten per-column afterwards
    * where the data contract is stricter than the JVM type. */
  def fromCaseClass[T <: Product : scala.reflect.runtime.universe.TypeTag](
      name: String): TableSpec =
    fromStructType(name, org.apache.spark.sql.Encoders.product[T].schema)
}
