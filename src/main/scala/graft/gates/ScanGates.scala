package graft
package gates

import graft.functions.TextFunctions
import graft.operators.{BlockDedup, Ragged}
import graft.schema.FieldSpec
import graft.sources.{FileSchemas, TabularReader, TabularWriter, TfRecordSource, TypedParquet}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import Shared._

/** Scan gates: file formats (parquet, ORC, TFRecord, CSV, JSONL),
  * projections and defaults, row ranges, partition pruning, physical
  * types, schema evolution and sink round-trips. */
object ScanGates {

  val gates: Seq[Gate] = Seq(
    Gate("scan_full_width", { (s, d) =>
      // the reference's benchmark shape: full-width columnar scan
      Tables.lineitem(s, d)
    }, "SELECT * FROM lineitem"),
    Gate("scan_projection_defaults", { (s, d) =>
      // TabularReader: projection + missing-field default population
      // (reference: populate_defaults, dataframe.py:458-501).
      val fields = Seq(
        FieldSpec("l_orderkey", LongType),
        FieldSpec("l_linenumber", IntegerType),
        FieldSpec("l_quantity", DoubleType),
        FieldSpec("missing_feat", LongType, defaultValue = Some(42L)))
      TabularReader.fromParquet(s, Seq(s"$d/lineitem.parquet"),
        TabularReader.Options(fields = fields))
    }, "SELECT l_orderkey, l_linenumber, l_quantity, CAST(42 AS BIGINT) AS missing_feat FROM lineitem"),
    // ---- ragged structural conversions (reference to_sparse, §1.1) -----
    Gate("ragged_to_coo", { (s, d) =>
      Ragged.toCoo(Tables.documents(s, d), col("doc_id"),
        TextFunctions.tokenize(col("text")))
        .select(col("key").as("doc_id"), col("pos").cast("long").as("pos"),
          col("value").as("token"))
    }, """SELECT doc_id,
         |  generate_subscripts(string_split(text,' '), 1) - 1 AS pos,
         |  unnest(string_split(text,' ')) AS token
         |FROM documents""".stripMargin),
    // ---- dense padding (reference to_dense, §2.2) ----------------------
    Gate("scan_to_dense", { (s, d) =>
      val fields = Seq(
        FieldSpec("vec_id", LongType),
        FieldSpec("embedding", FloatType, shape = Seq(100)))
      TabularReader.fromParquet(s, Seq(s"$d/embeddings.parquet"),
        TabularReader.Options(fields = fields, toDense = true, denseDefault = 0.0f))
        .select(col("vec_id"), numCsv(col("embedding")).as("embedding"))
    }, """SELECT vec_id,
         |  array_to_string(list_transform(
         |    (embedding || [CAST(0.0 AS FLOAT) FOR i IN range(greatest(0, 100 - len(embedding)))])[1:100],
         |    x -> CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)), ',') AS embedding
         |FROM embeddings""".stripMargin),
    // ---- ORC scan path through the gate --------------------------------
    Gate("scan_orc_roundtrip", { (s, d) =>
      // stage the events table as ORC (once per data dir), read it back
      // through the ORC reader surface — same rows as the parquet original
      val dir = GateFixtures.dir("orc", d) { target =>
        TabularWriter.toOrc(Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")), target)
      }
      TabularReader.fromOrc(s, Seq(dir))
    }, "SELECT event_id, user_id, event_type, value FROM events"),
    // ---- ZSTD sink round-trip (reference SNAPPY/ZSTD sink options) -----
    Gate("scan_zstd_roundtrip", { (s, d) =>
      // events written through TabularWriter with ZSTD, read back — the
      // codec path of the sink surface (SNAPPY is exercised by every
      // other staged fixture)
      val dir = GateFixtures.dir("zstd", d) { target =>
        TabularWriter.toParquet(Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
          target, compression = "zstd")
      }
      TabularReader.fromParquet(s, Seq(dir))
    }, "SELECT event_id, user_id, event_type, value FROM events"),
    Gate("sink_compacted_roundtrip", { (s, d) =>
      // small-files compaction: events scattered into 64 tiny files,
      // compacted back to ~target-sized files, read round-trip. The
      // compaction must be a pure rewrite (same rows, fewer files).
      val dir = GateFixtures.dir("compact", d) { target =>
        val scattered = target + "_scattered"
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .repartition(64).write.parquet(scattered)
        TabularWriter.compact(s, scattered, target, targetBytes = 8L * 1024 * 1024)
        GateFixtures.deleteRecursively(new java.io.File(scattered).toPath)
      }
      TabularReader.fromParquet(s, Seq(dir))
    }, "SELECT event_id, user_id, event_type, value FROM events"),
    Gate("scan_partitioned_pruned", { (s, d) =>
      // hive-layout partitioned write + partition-pruned read: the
      // filter never opens non-matching partition directories
      // (PartitionFilters plan proof in PruningSpec)
      val dir = GateFixtures.dir("hivepart", d) { target =>
        TabularWriter.toPartitioned(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("value"), col("event_type")),
          target, Seq("event_type"))
      }
      FileSchemas.read(s, Seq(dir))
        .where(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), col("value"), col("event_type"))
    }, """SELECT event_id, user_id, value, event_type
         |FROM events WHERE event_type = 'click'""".stripMargin),
    Gate("scan_multifile_union", { (s, d) =>
      // multi-path composition (reference: dataset over a file LIST):
      // events split across two directory trees, one read — Spark's
      // multi-path load plans ONE scan over both file sets
      val root = GateFixtures.dir("multifile", d) { target =>
        val e = Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        e.filter(pmod(col("event_id"), lit(2)) === 0).write.parquet(target + "/even")
        e.filter(pmod(col("event_id"), lit(2)) =!= 0).write.parquet(target + "/odd")
      }
      TabularReader.fromParquet(s, Seq(root + "/even", root + "/odd"))
    }, "SELECT event_id, user_id, event_type, value FROM events"),
    Gate("scan_schema_evolution", { (s, d) =>
      // schema evolution across files: half the corpus was written
      // before `value` existed; mergeSchema reconciles the footers and
      // the declared default fills the old files' rows, while new
      // files' real values pass through untouched
      val root = GateFixtures.dir("evolve", d) { target =>
        val e = Tables.events(s, d)
        e.filter(pmod(col("event_id"), lit(2)) === 0)
          .select(col("event_id"), col("user_id"))
          .write.parquet(target + "/v1")
        e.filter(pmod(col("event_id"), lit(2)) =!= 0)
          .select(col("event_id"), col("user_id"), col("value"))
          .write.parquet(target + "/v2")
      }
      TabularReader.fromParquet(s, Seq(root + "/v1", root + "/v2"),
        TabularReader.Options(mergeSchema = true, fields = Seq(
          FieldSpec("event_id", LongType),
          FieldSpec("user_id", LongType),
          FieldSpec("value", DoubleType, defaultValue = Some(-1.0d)))))
    }, """SELECT event_id, user_id,
         |  CASE WHEN event_id % 2 = 0 THEN -1.0 ELSE value END AS value
         |FROM events""".stripMargin),
    Gate("scan_corrupt_skip", { (s, d) =>
      // corrupt-data skip (reference dataset.cc:263-267): a junk file
      // sits inside the directory; skipCorrupted reads past it and
      // yields exactly the intact rows
      val dir = GateFixtures.dir("corrupt", d) { target =>
        Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
          .write.parquet(target)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(target, "part-junk.parquet"),
          Array.fill[Byte](4096)(0x5A))
      }
      TabularReader.fromParquet(s, Seq(dir),
        TabularReader.Options(skipCorrupted = true))
    }, "SELECT event_id, user_id, event_type, value FROM events"),
    Gate("scan_sorted_layout", { (s, d) =>
      // sort-clustered layout for a high-cardinality key: each file
      // covers a disjoint user_id range (footer-stat disjointness proved
      // in PruningSpec), so this range predicate prunes whole files
      val dir = GateFixtures.dir("rangesorted", d) { target =>
        TabularWriter.toRangeSorted(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
          target, Seq("user_id"), numFiles = 8)
      }
      FileSchemas.read(s, Seq(dir))
        .where(col("user_id") >= 40 && col("user_id") < 80)
        .select(col("event_id"), col("user_id"), col("value"))
    }, """SELECT event_id, user_id, value
         |FROM events WHERE user_id >= 40 AND user_id < 80""".stripMargin),
    Gate("scan_zorder_layout", { (s, d) =>
      // Morton-curve layout on (l_partkey, l_suppkey): one sort key
      // clusters BOTH dimensions, so the box predicate prunes files via
      // footer stats on either key (bounding-box narrowness proved in
      // PruningSpec); the gate also checks the z arithmetic itself
      val dir = GateFixtures.dir("zordered", d) { target =>
        TabularWriter.toZOrdered(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_linenumber"),
            col("l_partkey"), col("l_suppkey")),
          target, "l_partkey", "l_suppkey", numFiles = 8)
      }
      FileSchemas.read(s, Seq(dir))
        .where(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(20, 60))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
          col("l_suppkey"),
          graft.functions.expressions.GraftExpressions.z_order(
            col("l_partkey").cast("long"), col("l_suppkey").cast("long")).as("zval"))
    },
      // layout-invariant scan + closed-form Morton interleave of the two
      // masked 31-bit keys (mirrors VecUtil.interleaveBits bit-for-bit)
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
         |  CAST(list_sum(list_transform(range(0, 31),
         |    i -> ((((l_partkey & 2147483647) >> i) & 1) << (2*i))
         |       + ((((l_suppkey & 2147483647) >> i) & 1) << (2*i+1)))) AS BIGINT) AS zval
         |FROM lineitem
         |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 20 AND 60""".stripMargin),
    // ---- dedup restore at the scan (reference deduplicate/dataset.py) --
    Gate("scan_dedup_restore", { (s, d) =>
      // stage a block-compressed fixture, then restore it at parse time
      // through TabularReader ALONE (no BlockDedup.restore) — the shape of
      // reference data/tests/parquet_dataset_deduplicate_test.py:38-92
      val dir = GateFixtures.dir("restore", d) { target =>
        TabularWriter.toParquet(BlockDedup.compress(
          Tables.events(s, d), col("user_id"), col("event_id"), Seq("event_type")), target)
      }
      TabularReader.fromParquet(s, Seq(dir), TabularReader.Options(
        restore = Seq(TabularReader.RestoreSpec("event_type_uniq", "event_type_idx", "event_type")),
        restoreOrdField = Some("__ord_list"),
        restoreOrdAs = Some("event_id")))
        .select(col("event_id"), col("event_type"))
    }, "SELECT event_id, event_type FROM events"),
    // ---- row-range scan (reference parquet.cc:46-64 `?start=&end=`) ----
    Gate("scan_row_range", { (s, d) =>
      TabularReader.fromParquet(s, Seq(s"$d/lineitem.parquet"),
        TabularReader.Options(rowStart = Some(1000L), rowEnd = Some(2000L)))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"))
    },
      // physical rows [1000, 2000) of the single parquet file; DuckDB
      // preserves file order for a plain scan (preserve_insertion_order)
      "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem LIMIT 1000 OFFSET 1000"),
    // ---- ORC row-range (reference orc.cc:118-120 Count/Seek) -----------
    Gate("scan_orc_row_range", { (s, d) =>
      // single-file ORC staged in the parquet original's row order
      // (coalesce(1) pins write order), then rows [1000, 2000) read back
      // through the per-split offset pass — same semantics as the
      // parquet row_index path, ORC-native positions
      val dir = GateFixtures.dir("orc_rr", d) { target =>
        TabularWriter.toOrc(Tables.events(s, d)
          .select(col("event_id"), col("user_id"), col("value")).coalesce(1), target)
      }
      TabularReader.fromOrc(s, Seq(dir),
        TabularReader.Options(rowStart = Some(1000L), rowEnd = Some(2000L)))
    },
      // physical rows [1000, 2000) of the single ORC file, which holds
      // the events table in original parquet order (as scan_row_range)
      "SELECT event_id, user_id, value FROM events LIMIT 1000 OFFSET 1000"),
    // ---- exotic physical types (reference arrow.cc:48-73) ---------------
    Gate("scan_float16", { (s, d) =>
      // fp16 parquet staged by a non-Spark writer (parquet-java FLBA(2),
      // the FLOAT16 physical layout), read through the float16 dtype
      // mapping: binary file column declared FloatType -> native half
      // decode. Values are exact in fp16 (<= 999.5, 0.5 steps) so the
      // round-trip is bit-exact and the oracle recomputes them directly.
      val dir = GateFixtures.dir("fp16", d) { target =>
        TypedParquet.Fp16Fixture.write(s"$target/part-00000.parquet")
      }
      TabularReader.fromParquet(s, Seq(dir), TabularReader.Options(fields = Seq(
        FieldSpec("id", LongType),
        FieldSpec("half_val", FloatType))))
        .select(col("id"), col("half_val").cast("double").as("half_val"))
    },
      // mirrors TypedParquet.Fp16Fixture.value — exact in binary16
      """SELECT i AS id, CAST((i % 2000) / 2.0 AS DOUBLE) AS half_val
        |FROM range(10000) r(i)""".stripMargin),
    Gate("scan_uint64", { (s, d) =>
      // uint64 parquet (INT64 logical INTEGER(64,false)) staged by
      // parquet-java; Spark's vectorized reader maps it to DECIMAL(20,0)
      // natively — exactly FieldSpec.dtypeMapping's declared uint64
      // mapping — with values above Long.MaxValue intact (fixture stores
      // 2^63 + id). Projected to string for an engine-neutral compare.
      val dir = GateFixtures.dir("uint64", d) { target =>
        TypedParquet.U64Fixture.write(s"$target/part-00000.parquet")
      }
      TabularReader.fromParquet(s, Seq(dir), TabularReader.Options(fields = Seq(
        FieldSpec("id", LongType),
        FieldSpec("u", DecimalType(20, 0)))))
        .select(col("id"), col("u").cast("string").as("u"))
    },
      // mirrors TypedParquet.U64Fixture — 2^63 + i, above BIGINT range
      """SELECT i AS id, CAST(CAST(9223372036854775808 AS HUGEINT) + i AS VARCHAR) AS u
        |FROM range(10000) r(i)""".stripMargin),
    Gate("scan_tfrecord_roundtrip", { (s, d) =>
      // TFRecord source (reference benchmarks/data_benchmark_tfrecord.py,
      // tutorial to_tfrecord.py): events staged once as sharded TFRecord
      // through our own writer, read back — must reproduce the parquet
      // original (value stored as float32, tf.train.Example's only
      // floating kind; the oracle casts identically)
      val dir = GateFixtures.dir("tfrecord", d) { target =>
        TfRecordSource.write(
          Tables.events(s, d).select(col("event_id"), col("user_id"),
            col("event_type"), col("value").cast("float").as("value_f32"))
            .repartition(8),
          target)
      }
      TfRecordSource.read(s, Seq(dir), Seq(
        FieldSpec("event_id", LongType), FieldSpec("user_id", LongType),
        FieldSpec("event_type", StringType), FieldSpec("value_f32", FloatType)))
    }, """SELECT event_id, user_id, event_type,
         |  CAST(value AS FLOAT) AS value_f32 FROM events""".stripMargin),
    Gate("scan_csv_roundtrip", { (s, d) =>
      // CSV source (reference benchmarks/data_benchmark_csv.py): events
      // staged once as CSV, read back with a declared schema — must
      // reproduce the parquet original bit-for-bit (doubles survive via
      // Java's shortest-round-trip formatting; JSON props via quoting)
      val cols = Seq("event_id", "user_id", "event_type", "value", "props")
      val dir = GateFixtures.dir("csv", d) { target =>
        Tables.events(s, d).select(cols.map(col): _*)
          .write.option("header", "true").csv(target)
      }
      val schema = StructType(Seq(
        StructField("event_id", LongType), StructField("user_id", LongType),
        StructField("event_type", StringType), StructField("value", DoubleType),
        StructField("props", StringType)))
      TabularReader.fromCsv(s, Seq(dir), schema)
    }, "SELECT event_id, user_id, event_type, value, props FROM events"),
    Gate("scan_jsonl_roundtrip", { (s, d) =>
      // JSONL source (the LLM-corpus interchange format): documents
      // staged once as JSON Lines, read back with a declared schema —
      // must reproduce the parquet original bit-for-bit (strings
      // survive via JSON escaping; longs are exact in JSON)
      val dir = GateFixtures.dir("jsonl", d) { target =>
        Tables.documents(s, d).write.json(target)
      }
      TabularReader.fromJsonLines(s, Seq(dir), StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType))))
    }, "SELECT doc_id, text, lang, source, n_chars FROM documents"),
    // ---- nested-ragged (rank-2) scan -------------------------------------
    Gate("scan_ragged_nested", { (s, d) =>
      // rank-2 fixture (token chunks of 3) staged to parquet, read back
      // through TabularReader with a declared raggedRank=2 field, then
      // flattened to COO — reference parquet_dataset_ragged_nested_test.py
      val toks = TextFunctions.tokenize(col("text"))
      val nested = Tables.documents(s, d).select(col("doc_id"),
        transform(sequence(lit(0L), floor((size(toks) + 2) / 3).cast("long") - 1),
          i => slice(toks, (i * 3 + 1).cast("int"), lit(3))).as("tok_chunks"))
      val dir = GateFixtures.dir("ragged", d) { target =>
        TabularWriter.toParquet(nested, target)
      }
      val read = TabularReader.fromParquet(s, Seq(dir), TabularReader.Options(fields = Seq(
        FieldSpec("doc_id", LongType),
        FieldSpec("tok_chunks", StringType, raggedRank = 2))))
      Ragged.toCoo2(read, col("doc_id"), col("tok_chunks"))
        .select(col("key").as("doc_id"), col("pos0").cast("long").as("pos0"),
          col("pos1").cast("long").as("pos1"), col("value").as("token"))
    }, """WITH t AS (SELECT doc_id, string_split(text,' ') AS toks FROM documents),
         |ch AS (SELECT doc_id, list_transform(range(0, CAST(ceil(len(toks)/3.0) AS BIGINT)),
         |  i -> toks[i*3+1:i*3+3]) AS chunks FROM t),
         |o AS (SELECT doc_id, generate_subscripts(chunks,1) - 1 AS pos0,
         |  unnest(chunks) AS chunk FROM ch)
         |SELECT doc_id, CAST(pos0 AS BIGINT) AS pos0,
         |  CAST(generate_subscripts(chunk,1) - 1 AS BIGINT) AS pos1,
         |  unnest(chunk) AS token
         |FROM o""".stripMargin),
  )
}
