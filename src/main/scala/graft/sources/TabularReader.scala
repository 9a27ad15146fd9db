package graft.sources

import graft.schema.{FieldSpec, SchemaValidator}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Columnar tabular scan with the reference's read surface:
  * field projection, schema validation, case-insensitive field matching,
  * default-value population for missing columns, dense padding of ragged
  * columns, and corrupt-file skipping
  * (reference: hybridbackend/tensorflow/data/tabular/dataset_v2.py:248-377,
  * hybridbackend/tensorflow/data/dataframe.py:397-501).
  *
  * Spark-first design: all of the reference's C++ scan machinery —
  * row-group partitioning, column pruning, batched columnar decode,
  * multi-file interleave, filesystem connectors — is Spark's built-in
  * Parquet/ORC source (FileSourceScanExec + vectorized reader + Catalyst
  * ColumnPruning). This wrapper only adds the *semantic* layer: strict
  * schema validation, `lit(default)` injection for absent fields, and the
  * dense-pad expression.
  */
object TabularReader {

  /** Parse-time dedup restore pair (reference: data/deduplicate/
    * dataset.py:28-67 marks each value field with its restore-idx field;
    * dataframe.py:301-313 gathers values through the index at batch
    * assembly). `valueField` holds a block's unique values, `keyIdxField`
    * the per-original-row inverse indices; the scan emits `as` = the
    * gathered value per original row. */
  final case class RestoreSpec(valueField: String, keyIdxField: String, as: String)

  final case class Options(
      fields: Seq[FieldSpec] = Nil, // empty = infer all from footer
      caseInsensitive: Boolean = false, // field_ignore_case (dataset_v2.py:125)
      skipCorrupted: Boolean = false, // skip_corrupted_data (dataset.cc:263-267)
      toDense: Boolean = false, // pad ragged columns (dataframe.py:332-345)
      denseDefault: Any = 0L, // pad value when toDense
      validate: Boolean = true,
      // field_map_fn (table.py:83): transform the (inferred or declared)
      // field list before the read — rename/re-type/drop hooks
      fieldMapFn: Option[Seq[FieldSpec] => Seq[FieldSpec]] = None,
      // dedup restore at scan (deduplicate/dataset.py:28-67): gather each
      // value field through its key-idx field; with restoreOrdField set
      // (the compressed layout's row-identity list) blocks are exploded
      // back to one row per original row
      restore: Seq[RestoreSpec] = Nil,
      restoreOrdField: Option[String] = None,
      // output name of the restored row-identity column; defaults to the
      // ord field's name minus the writer's "_list" suffix (so a column
      // compressed from `event_id` and stored as `event_id_list` restores
      // as `event_id` again)
      restoreOrdAs: Option[String] = None,
      // row-range scan [rowStart, rowEnd) per file — the reference's
      // `?start=&end=` URI semantics (data/tabular/parquet.cc:46-64, and
      // the ORC Count/Seek analog, data/tabular/orc.cc:118-120), used
      // for deterministic external sharding. Parquet positions come from
      // the scan's own _metadata.row_index (no sort, no global id pass);
      // ORC has no row_index metadata column, so positions come from a
      // per-split row-offset pass (see orcRowRange).
      rowStart: Option[Long] = None,
      rowEnd: Option[Long] = None,
      // schema evolution across files: reconcile every file footer into
      // one schema (Spark's mergeSchema; off by default, matching Spark —
      // merging reads every footer). A declared FieldSpec default then
      // fills rows of exactly the FILES whose own footer lacks the
      // column (file-granular via _metadata.file_path — the missing-
      // column default tiles whole old files), while files that carry
      // the column keep their values, INCLUDING genuine NULLs.
      mergeSchema: Boolean = false)

  def fromParquet(spark: SparkSession, paths: Seq[String], opts: Options = Options()): DataFrame =
    read(spark, "parquet", paths, opts)

  def fromOrc(spark: SparkSession, paths: Seq[String], opts: Options = Options()): DataFrame =
    read(spark, "orc", paths, opts)

  /** JSON-Lines scan — the de-facto interchange format of LLM corpus
    * releases (one JSON object per line; splittable, so a multi-GB file
    * still parallelizes by byte range). The reference's scan surface is
    * columnar-only; this closes the ingest gap for corpora that arrive
    * as JSONL before conversion to parquet. Like CSV the format carries
    * no schema, so column types are declared up front — inference would
    * read the data twice and guess (sampled inference can also mistype
    * sparse fields, which a training pipeline must never do silently). */
  def fromJsonLines(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType,
      opts: Options = Options()): DataFrame =
    read(spark, "json", paths, opts, Some(schema))

  /** CSV scan (the reference's CSV baseline path,
    * benchmarks/data_benchmark_csv.py). CSV carries no footer schema, so
    * the column types are declared up front — inference would read the
    * data twice and guess. */
  def fromCsv(
      spark: SparkSession,
      paths: Seq[String],
      schema: StructType,
      header: Boolean = true,
      opts: Options = Options()): DataFrame =
    read(spark, "csv", paths, opts, Some(schema), Map("header" -> header.toString))

  private def read(
      spark: SparkSession,
      format: String,
      paths: Seq[String],
      opts: Options,
      userSchema: Option[StructType] = None,
      extraOptions: Map[String, String] = Map.empty): DataFrame = {
    require(paths.nonEmpty, "no input paths")
    require(
      format == "parquet" || format == "orc" || (opts.rowStart.isEmpty && opts.rowEnd.isEmpty),
      s"rowStart/rowEnd require a footer-bearing columnar reader " +
        s"(parquet or orc); format '$format' does not support row-range scans")
    require(!opts.mergeSchema || format == "parquet" || format == "orc",
      s"mergeSchema reconciles file footers; format '$format' has none")
    val readerOptions = extraOptions + ("ignoreCorruptFiles" -> opts.skipCorrupted.toString) ++
      (if (opts.mergeSchema) Map("mergeSchema" -> "true") else Map.empty)
    // footer formats without a declared schema go through the schema
    // cache; a declared schema (JSON, CSV) is read as given
    val loaded = userSchema match {
      case Some(s) => spark.read.format(format).options(readerOptions).schema(s).load(paths: _*)
      case None => FileSchemas.read(spark, paths, format, readerOptions)
    }

    // row-range scan: filter on the scan's per-file row position. For
    // parquet this is a narrow post-scan predicate over the generated
    // _metadata.row_index column — no sort and no
    // monotonically_increasing_id pass; ORC (no row_index column) goes
    // through the per-split offset pass in orcRowRange.
    val raw = (opts.rowStart, opts.rowEnd) match {
      case (None, None) => loaded
      case (s, e) if format == "parquet" =>
        val idx = col("_metadata.row_index")
        val lower = s.map(idx >= _)
        val upper = e.map(idx < _)
        loaded.filter((lower ++ upper).reduce(_ && _))
      case (s, e) =>
        orcRowRange(spark, loaded, s.getOrElse(0L), e.getOrElse(Long.MaxValue))
    }

    val declared =
      if (opts.fields.nonEmpty) opts.fields
      else graft.schema.FieldSpec.fromSchema(loaded.schema)
    val fields = opts.fieldMapFn.fold(declared)(_(declared))

    if (opts.fields.isEmpty && opts.fieldMapFn.isEmpty) {
      SchemaValidator.requireDistinctNames(loaded.schema, opts.caseInsensitive)
      return applyRestore(raw.select(loaded.columns.map(col): _*), opts)
    }

    if (opts.validate) {
      val errs = SchemaValidator.validateFields(loaded.schema, fields, opts.caseInsensitive)
      require(errs.isEmpty, s"schema validation failed:\n  ${errs.mkString("\n  ")}")
    }

    val key: String => String = n => if (opts.caseInsensitive) n.toLowerCase else n
    val present = loaded.schema.fieldNames.map(key).toSet

    // Evolution fill (mergeSchema): a field present in the RECONCILED
    // schema may still be absent from individual files' footers — those
    // files' rows read NULL and take the declared default, while files
    // that carry the column keep their values INCLUDING genuine NULLs
    // (file-granular, matching Spark/Parquet evolution semantics; a
    // row-level coalesce would silently rewrite real NULLs).
    lazy val footerFields: Map[String, Set[String]] =
      footerFieldNames(spark, format, loaded.inputFiles.toSeq)
    def filesLacking(n: String): Seq[String] =
      footerFields.collect { case (f, names) if !names.map(key).contains(n) => f }.toSeq

    // Projection reaches the parquet scan (Catalyst column pruning);
    // missing fields are populated from their declared default, tiled to
    // every row — the analog of DataFrame.populate_defaults
    // (dataframe.py:458-501).
    val cols: Seq[Column] = fields.map { f =>
      val base =
        if (!present.contains(key(f.name))) defaultColumn(f)
        else {
          val c = projectExisting(raw, f, opts)
          val lacking =
            if (opts.mergeSchema && f.defaultValue.isDefined) filesLacking(key(f.name))
            else Nil
          if (lacking.isEmpty) c
          else when(col("_metadata.file_path").isin(lacking: _*), defaultColumn(f)).otherwise(c)
        }
      base.as(f.name)
    }
    applyRestore(raw.select(cols: _*), opts)
  }

  /** ORC row-range [start, end) per file — the analog of the reference's
    * ORC row-granular Count/Seek (data/tabular/orc.cc:118-120). ORC scans
    * expose no `_metadata.row_index`, so per-file positions are derived
    * in two passes:
    *
    *  1. a metadata-weight counting job — per-split row counts keyed by
    *     (`_metadata.file_path`, `_metadata.file_block_start`), an empty
    *     data projection the ORC reader answers from stripe metadata —
    *     folded into per-split starting offsets within each file
    *     (splits of a file are ordered by block start; this tiny
    *     split->offset map is collected and broadcast);
    *  2. the data read, where each partition assigns within-split row
    *     numbers with a streaming counter (rows of a split arrive in
    *     file order; a partition may pack several splits, so the counter
    *     resets on every (file, block) change) and keeps only rows whose
    *     `offset + local index` falls in [start, end).
    *
    * The construction is layout-independent — any split planning yields
    * the same per-file row positions — and scales as one cheap metadata
    * pass plus one narrow filtered scan; no sort, no global id, nothing
    * single-partition. Note the counting job runs eagerly at plan-build
    * time (the parquet path stays fully lazy). */
  private def orcRowRange(
      spark: SparkSession,
      loaded: DataFrame,
      start: Long,
      end: Long): DataFrame = {
    val dataCols = loaded.columns.toSeq
    val meta = loaded.select(
      col("_metadata.file_path").as("__file") +:
        col("_metadata.file_block_start").as("__block") +:
        dataCols.map(col): _*)
    val counts = meta.groupBy(col("__file"), col("__block")).count().collect()
    val offsets: Map[(String, Long), Long] = counts.groupBy(_.getString(0)).toSeq.flatMap {
      case (f, rows) =>
        val sorted = rows.map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
        val starts = sorted.scanLeft(0L)(_ + _._2)
        sorted.zip(starts).map { case ((b, _), off) => ((f, b), off) }
    }.toMap
    val bc = spark.sparkContext.broadcast(offsets)
    val ranged = meta.mapPartitions { it =>
      var curF: String = null
      var curB = Long.MinValue
      var base = 0L
      var n = 0L
      it.filter { r =>
        val f = r.getString(0)
        val b = r.getLong(1)
        if (f != curF || b != curB) { curF = f; curB = b; base = bc.value((f, b)); n = 0L }
        val idx = base + n
        n += 1
        idx >= start && idx < end
      }
    }(org.apache.spark.sql.Encoders.row(meta.schema))
    ranged.select(dataCols.map(col): _*)
  }

  /** Dedup restore at scan: gather each RestoreSpec's value list through
    * its inverse-index list (narrow codegen'd expressions, zero shuffle);
    * with restoreOrdField set, explode blocks back to one row per
    * original row — the parse-time analog of
    * [[graft.operators.BlockDedup.restore]]. */
  private def applyRestore(df: DataFrame, opts: Options): DataFrame = {
    if (opts.restore.isEmpty) return df
    val consumed = opts.restore.flatMap(r => Seq(r.valueField, r.keyIdxField)).toSet ++
      opts.restoreOrdField
    val passthroughNames = df.columns.filterNot(consumed)
    val passthrough = passthroughNames.map(col(_)).toSeq
    // every output name must be unique: a collision between the restored
    // ord name, a RestoreSpec.as and/or a passthrough column would yield
    // duplicate arrays_zip fields and ambiguous getField resolution
    val asNames = opts.restore.map(_.as)
    val dupAs = (asNames ++ passthroughNames).groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    require(dupAs.isEmpty,
      s"restore output name(s) ${dupAs.mkString(", ")} collide with a passthrough column or another RestoreSpec.as")
    val gathered = opts.restore.map(r =>
      transform(col(r.keyIdxField), i => element_at(col(r.valueField), (i + 1).cast("int"))).as(r.as))
    opts.restoreOrdField match {
      case None => df.select(passthrough ++ gathered: _*)
      case Some(ordF) =>
        // restore the row-identity column under its pre-compression name
        // (default: strip the writer's "_list" suffix), not an internal one
        val ordAs = opts.restoreOrdAs.getOrElse(ordF.stripSuffix("_list"))
        require(!asNames.contains(ordAs) && !passthroughNames.contains(ordAs),
          s"restored ord column name '$ordAs' collides with a RestoreSpec.as or passthrough column; " +
            s"set restoreOrdAs to a distinct name")
        df.select(passthrough :+
          explode(arrays_zip(col(ordF).as(ordAs) +: gathered: _*)).as("__r"): _*)
          .select(passthrough ++ (col("__r").getField(ordAs).as(ordAs) +:
            opts.restore.map(r => col("__r").getField(r.as).as(r.as))): _*)
    }
  }

  private def projectExisting(raw: DataFrame, f: FieldSpec, opts: Options): Column = {
    val name = resolveName(raw, f.name, opts.caseInsensitive)
    // enforce the declared leaf type: validation accepts widenings
    // (int32->long, float->double), so the read must cast to keep the
    // output schema equal to the declared FieldSpec across files
    val fileType = raw.schema(name).dataType
    val c0 = col(name)
    // cast only on a real type difference — nullability-only deltas in
    // (nested) arrays are not castable and don't need to be
    val c =
      if (isHalfLayout(fileType, f.dataType)) decodeHalf(c0, fileType)
      else if (sameIgnoringNullability(fileType, f.dataType)) c0
      else c0.cast(f.dataType)
    if (opts.toDense && (f.raggedRank == 1 || f.shape.length == 1))
      padToLength(c, f.shape.headOption, opts.denseDefault, f.leafType)
    else c
  }

  /** Per-file footer field names for the evolution fill: which of the
    * scan's files lack a declared field. One metadata-only footer read
    * per file on the driver — the same cost class as the mergeSchema
    * reconciliation that just ran distributed; the result feeds a
    * per-field InSet predicate bounded by the lacking-file count. */
  private def footerFieldNames(
      spark: SparkSession, format: String, files: Seq[String]): Map[String, Set[String]] = {
    val conf = spark.sessionState.newHadoopConf()
    def readOne(f: String): Seq[(String, Set[String])] = {
      val p = new org.apache.hadoop.fs.Path(f)
      val names: Set[String] = format match {
        case "parquet" =>
          val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf)
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
          try {
            import scala.jdk.CollectionConverters._
            r.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSet
          } finally r.close()
        case _ => // orc (the only other format mergeSchema accepts)
          val r = org.apache.orc.OrcFile.createReader(
            p, org.apache.orc.OrcFile.readerOptions(conf))
          try {
            import scala.jdk.CollectionConverters._
            r.getSchema.getFieldNames.asScala.toSet
          } finally r.close()
      }
      // key by BOTH the Hadoop-normalized form ("file:/…" — what
      // _metadata.file_path yields for plain paths; inputFiles yields
      // "file:///…") AND the URI form, so a path whose characters
      // URI-normalize differently still matches the fill predicate
      // instead of silently skipping that file's default fill
      Seq(p.toString, p.toUri.toString).distinct.map(_ -> names)
    }
    // metadata-only footer reads are driver-side by design (same cost
    // class as the mergeSchema reconciliation), but sequential reads
    // over a large file count would serialize on per-file open latency —
    // run them on a small bounded pool
    if (files.lengthCompare(4) <= 0) files.flatMap(readOne).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, files.length))
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try scala.concurrent.Await.result(
        scala.concurrent.Future.traverse(files)(f => scala.concurrent.Future(readOne(f))),
        scala.concurrent.duration.Duration.Inf).flatten.toMap
      finally pool.shutdown()
    }
  }

  private def sameIgnoringNullability(a: DataType, b: DataType): Boolean = (a, b) match {
    case (ArrayType(ea, _), ArrayType(eb, _)) => sameIgnoringNullability(ea, eb)
    case _ => a == b
  }

  /** float16 dtype mapping (FieldSpec.dtypeMapping): Parquet fp16 is
    * FIXED_LEN_BYTE_ARRAY(2), which Spark's reader surfaces as binary
    * (and REJECTS when the file carries the FLOAT16 logical annotation —
    * `[PARQUET_TYPE_ILLEGAL]`, documented in [[TypedParquet]]); a binary
    * file column declared FloatType is decoded as little-endian IEEE
    * half via the native codegen'd [[graft.functions.expressions.GraftExpressions.half_to_float]]
    * (reference: hybridbackend/common/arrow.cc:48-73). */
  private def isHalfLayout(file: DataType, declared: DataType): Boolean = (file, declared) match {
    case (BinaryType, FloatType) => true
    case (ArrayType(ea, _), ArrayType(eb, _)) => isHalfLayout(ea, eb)
    case _ => false
  }

  private def decodeHalf(c: Column, file: DataType): Column = file match {
    case ArrayType(e, _) => transform(c, x => decodeHalf(x, e))
    case _ => graft.functions.expressions.GraftExpressions.half_to_float(c)
  }

  private def resolveName(raw: DataFrame, name: String, ci: Boolean): String =
    if (!ci) name
    else raw.schema.fieldNames.find(_.equalsIgnoreCase(name)).getOrElse(name)

  private def defaultColumn(f: FieldSpec): Column = {
    val d = f.defaultValue.getOrElse(
      throw new IllegalArgumentException(s"field ${f.name}: missing and no default"))
    d match {
      case xs: Seq[_] => array(xs.map(x => lit(x).cast(f.leafType)): _*)
      case x => lit(x).cast(f.dataType)
    }
  }

  /** Dense padding: ragged list -> fixed-length list padded with
    * `padValue` (the reference's `Value.to_tensor`, dataframe.py:332-345;
    * explicit target shape with pad, dataframe.py:437-452). When no
    * target length is declared, callers pad to the batch max — at engine
    * level that is a global max, computed by the caller and passed as
    * `targetLen` (a per-query max would be a two-pass aggregate).
    * Built-in, codegen'd expressions only: concat + array_repeat + slice.
    */
  def padToLength(c: Column, targetLen: Option[Int], padValue: Any, leafType: DataType): Column =
    targetLen match {
      case Some(n) =>
        // pad up then clip down so over-length rows still read as shape [n]
        slice(
          concat(c, array_repeat(lit(padValue).cast(leafType), greatest(lit(0), lit(n) - size(c)))),
          1,
          n)
      case None => c
    }
}
