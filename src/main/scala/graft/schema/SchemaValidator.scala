package graft.schema

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Schema inference + cross-file validation.
  *
  * The reference infers field name / leaf dtype / ragged rank from the
  * Parquet or ORC footer (reference: hybridbackend/common/arrow.cc:174-211,
  * 244-280) and validates a user-declared schema against the file — name,
  * dtype and ragged rank must match exactly
  * (hybridbackend/tensorflow/common/arrow.cc:384-423). Its validate CLI
  * additionally asserts that every file in a set shares one schema and
  * peek-reads N rows from each (hybridbackend/tensorflow/data/validate.py:34-98).
  *
  * On Spark the footer read is `spark.read.parquet(path).schema`; this
  * object adds the strict-equality checks the reference performs that
  * Spark's permissive schema merge would otherwise hide.
  */
object SchemaValidator {

  final case class Mismatch(path: String, detail: String)

  /** Reference semantics: duplicate column names are an error
    * (common/arrow.cc:186-189). */
  def requireDistinctNames(schema: StructType, caseInsensitive: Boolean = false): Unit = {
    val names = schema.fieldNames.toSeq.map(n => if (caseInsensitive) n.toLowerCase else n)
    val dups = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"duplicate column names: ${dups.mkString(", ")}")
  }

  /** Validate a declared field list against a file schema. A declared
    * field absent from the file is only legal when it has a default
    * (dataframe.py:638-641); present fields must match leaf dtype and
    * ragged rank exactly (ValidateSchema, tensorflow/common/arrow.cc:384-423). */
  def validateFields(
      fileSchema: StructType,
      fields: Seq[FieldSpec],
      caseInsensitive: Boolean = false,
      strict: Boolean = false): Seq[String] = {
    requireDistinctNames(fileSchema, caseInsensitive)
    val key: String => String = n => if (caseInsensitive) n.toLowerCase else n
    val byName = FieldSpec.fromSchema(fileSchema).map(f => key(f.name) -> f).toMap
    fields.flatMap { want =>
      byName.get(key(want.name)) match {
        case None if want.defaultValue.isDefined => Nil
        case None =>
          Seq(s"field ${want.name}: missing from file and no default_value")
        case Some(got) =>
          val dtypeErr =
            if (if (strict) got.leafType != want.leafType
                else !compatibleLeaf(got.leafType, want.leafType))
              Seq(s"field ${want.name}: leaf dtype ${got.leafType.simpleString} != declared ${want.leafType.simpleString}")
            else Nil
          val rankErr =
            if (got.raggedRank != math.max(want.raggedRank, want.shape.length))
              Seq(s"field ${want.name}: ragged rank ${got.raggedRank} != declared ${math.max(want.raggedRank, want.shape.length)}")
            else Nil
          dtypeErr ++ rankErr
      }
    }
  }

  private def compatibleLeaf(file: DataType, declared: DataType): Boolean =
    (file, declared) match {
      case (a, b) if a == b => true
      // widenings we document (uint widenings) arrive as the widened
      // type from Parquet already; allow int32->long reads.
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      // fp16 physical layout: FLBA(2) surfaces as binary, declared float
      // (TabularReader decodes; FieldSpec.dtypeMapping float16->Float)
      case (BinaryType, FloatType) => true
      case _ => false
    }

  /** Strict-mode null rejection: the reference refuses null values
    * outright (tensorflow/common/arrow.cc:189-191,371-373). Returns the
    * per-column null counts that violate the contract (empty = clean).
    * One pass, map-side combinable. */
  def nullViolations(df: org.apache.spark.sql.DataFrame, cols: Seq[String]): Map[String, Long] = {
    import org.apache.spark.sql.functions._
    val counts = df.select(cols.map(c =>
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(c)): _*)
      .collect().head
    cols.zipWithIndex.map { case (c, i) => c -> counts.getLong(i) }
      .filter(_._2 > 0).toMap
  }

  /** Cross-file validation: all files must share name/dtype/raggedRank
    * (mirrors data/validate.py). Returns per-file mismatch reports;
    * empty result means the set is consistent. */
  def validateFiles(
      spark: SparkSession,
      paths: Seq[String],
      format: String = "parquet",
      caseInsensitive: Boolean = false,
      peek: Int = 0): Seq[Mismatch] = {
    require(paths.nonEmpty, "no files to validate")
    val refFields = FieldSpec.fromSchema(spark.read.format(format).load(paths.head).schema)
    val key: String => String = n => if (caseInsensitive) n.toLowerCase else n
    val refNames = refFields.map(f => key(f.name)).toSet
    paths.flatMap { p =>
      // ANY per-file failure — an unloadable footer, duplicate column
      // names (Spark refuses to even resolve the schema), a throwing
      // validateFields — must surface as THAT file's mismatch report,
      // not abort the whole sweep: a fleet validator's contract is
      // per-file reports
      try {
        val schema = spark.read.format(format).load(p).schema
        // strict: cross-file consistency is exact-match (the reference's
        // contract); widening tolerance would make the result depend on
        // which file happens to come first
        val errs = validateFields(schema, refFields, caseInsensitive, strict = true) ++
          // exact equality cuts both ways (data/validate.py:34-98): a column
          // present in THIS file but absent from the first is also a mismatch
          schema.fieldNames.toSeq.filterNot(n => refNames.contains(key(n)))
            .map(n => s"field $n: present in file but absent from ${paths.head}")
        val peekErr =
          if (peek > 0) {
            try { spark.read.format(format).load(p).limit(peek).collect(); Nil }
            catch { case e: Exception => Seq(s"peek read failed: ${e.getMessage}") }
          } else Nil
        (errs ++ peekErr).map(Mismatch(p, _))
      } catch {
        case scala.util.control.NonFatal(e) =>
          Seq(Mismatch(p, s"unreadable or invalid schema: ${e.getMessage}"))
      }
    }
  }
}
