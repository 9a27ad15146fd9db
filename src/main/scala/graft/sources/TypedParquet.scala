package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupWriteSupport}
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._

/** Writers for Parquet physical types Spark itself cannot produce —
  * FLOAT16 (FIXED_LEN_BYTE_ARRAY(2), little-endian IEEE half) and
  * unsigned INT64 — used to stage fixtures that prove
  * [[graft.schema.FieldSpec.dtypeMapping]]'s float16/uint64 entries
  * against files a non-Spark writer (the reference's Arrow path,
  * /root/reference/hybridbackend/common/arrow.cc:48-73) would emit.
  *
  * Deliberately low-level parquet-java: the point is that the BYTES on
  * disk carry the exotic physical type, so the read path (vectorized
  * reader + dtype mapping) is exercised for real, not round-tripped
  * through Spark's own writer which would normalize the type away.
  */
object TypedParquet {

  /** IEEE 754 binary32 -> binary16 bits, round-to-nearest-even.
    * Standard bit algorithm (public: IEEE 754-2008 clause 4.3; same
    * contract as JDK 21's Float.floatToFloat16, unavailable on 17). */
  def floatToHalfBits(f: Float): Short = {
    val bits = java.lang.Float.floatToIntBits(f)
    val sign = (bits >>> 16) & 0x8000
    val e = (bits >>> 23) & 0xFF
    val m = bits & 0x7FFFFF
    if (e == 0xFF) // Inf / NaN (keep a quiet-NaN payload bit)
      (sign | 0x7C00 | (if (m != 0) 0x200 else 0)).toShort
    else {
      val newExp = e - 127 + 15
      if (newExp >= 0x1F) (sign | 0x7C00).toShort // overflow -> Inf
      else if (newExp <= 0) {
        if (newExp < -10) sign.toShort // underflow -> signed zero
        else { // subnormal half
          val mm = m | 0x800000
          val shift = 14 - newExp
          val half = mm >>> shift
          val rem = mm & ((1 << shift) - 1)
          val midpoint = 1 << (shift - 1)
          val up = if (rem > midpoint || (rem == midpoint && (half & 1) == 1)) 1 else 0
          (sign | (half + up)).toShort
        }
      } else {
        val half = (newExp << 10) | (m >>> 13)
        val rem = m & 0x1FFF
        val up = if (rem > 0x1000 || (rem == 0x1000 && (half & 1) == 1)) 1 else 0
        (sign | (half + up)).toShort // carry into exponent is correct rounding
      }
    }
  }

  /** binary16 bits -> binary32 (exact: every half is a float). */
  def halfBitsToFloat(h: Short): Float =
    graft.functions.expressions.VecUtil.halfBitsToFloat(h & 0xFFFF)

  private def write(path: String, schema: MessageType)(
      fill: (SimpleGroupFactory, Long) => org.apache.parquet.example.data.Group)(n: Long): Unit = {
    val conf = new Configuration()
    GroupWriteSupport.setSchema(schema, conf)
    val writer = ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf))
      .withConf(conf)
      .withType(schema)
      .build()
    val factory = new SimpleGroupFactory(schema)
    try (0L until n).foreach(i => writer.write(fill(factory, i)))
    finally writer.close()
  }

  /** `id: int64, half_val: fp16` with half_val = halfOf(id). Parquet
    * FLOAT16 is FIXED_LEN_BYTE_ARRAY(2), little-endian.
    *
    * `annotate = true` attaches the FLOAT16 logical-type annotation
    * (parquet-format >= 2.9). Spark 4.1's schema converter REJECTS that
    * annotation outright (`[PARQUET_TYPE_ILLEGAL] FIXED_LEN_BYTE_ARRAY
    * (FLOAT16)`, ParquetSchemaConverter.scala) — asserted in
    * SourcesSpec — so the readable layout (and the default here) is the
    * unannotated FLBA(2) form, which Spark surfaces as binary and
    * [[graft.sources.TabularReader]] decodes via the float16 dtype
    * mapping ([[graft.functions.expressions.GraftExpressions.half_to_float]]). */
  def writeFloat16(path: String, n: Long, halfOf: Long => Float, annotate: Boolean = false): Unit = {
    val withId = Types.buildMessage().required(INT64).named("id")
    val half = withId.required(FIXED_LEN_BYTE_ARRAY).length(2)
    val schema = (if (annotate) half.as(LogicalTypeAnnotation.float16Type()) else half)
      .named("half_val")
      .named("fp16_fixture")
    write(path, schema) { (g, i) =>
      val bits = floatToHalfBits(halfOf(i))
      g.newGroup()
        .append("id", i)
        .append("half_val",
          Binary.fromConstantByteArray(Array((bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte)))
    }(n)
  }

  /** Gate fixture: 10k rows of fp16 values exactly representable in
    * binary16 (<= 999.5 in 0.5 steps: 11-bit significand is exact there),
    * so the encode -> decode round-trip is bit-exact and the DuckDB
    * oracle can recompute them from `range()` without a half type. */
  object Fp16Fixture {
    val N = 10000L
    def value(i: Long): Float = ((i % 2000) / 2.0).toFloat
    def write(path: String): Unit = writeFloat16(path, N, value)
  }

  /** Gate fixture: 10k uint64 values 2^63 + id — all above Long.MaxValue,
    * so a signed-long misread would surface immediately. */
  object U64Fixture {
    val N = 10000L
    def bits(i: Long): Long = java.lang.Long.MIN_VALUE + i // unsigned 2^63 + i
    def write(path: String): Unit = writeUInt64(path, N, bits)
  }

  /** `id: int64, i8: int8, u8: uint8, u16: uint16, u32: uint32` —
    * the small/unsigned integer physical types (INT32 storage with
    * INT(bits, signed) annotations) the reference reads natively
    * (docs/data.md:23-27). Values exercise the full ranges, including
    * u32 above Int.MaxValue. */
  def writeSmallInts(path: String, n: Long): Unit = {
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .required(INT32).as(LogicalTypeAnnotation.intType(8, true)).named("i8")
      .required(INT32).as(LogicalTypeAnnotation.intType(8, false)).named("u8")
      .required(INT32).as(LogicalTypeAnnotation.intType(16, false)).named("u16")
      .required(INT32).as(LogicalTypeAnnotation.intType(32, false)).named("u32")
      .named("smallint_fixture")
    write(path, schema) { (g, i) =>
      g.newGroup()
        .append("id", i)
        .append("i8", ((i % 256) - 128).toInt)
        .append("u8", (i % 256).toInt)
        .append("u16", (i % 65536).toInt)
        // raw INT32 bits; as unsigned this is 2^32 - 1 - (i % (2^31 - 1))
        .append("u32", (-1 - (i % Int.MaxValue)).toInt)
    }(n)
  }

  /** `id: int64, halves: list<fp16>` — ragged list of unannotated
    * FLBA(2) halves (surfaces as array<binary>; TabularReader's float16
    * mapping decodes element-wise). Row i holds i % 4 elements; the
    * i % 4 == 0 rows are EMPTY lists (a written, zero-element group —
    * distinct from NULL), so readers are exercised on the
    * empty-but-present case too. */
  def writeFloat16List(path: String, n: Long, halfOf: (Long, Int) => Float): Unit = {
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .optionalList().element(
        Types.required(FIXED_LEN_BYTE_ARRAY).length(2).named("element"))
      .named("halves")
      .named("fp16_list_fixture")
    write(path, schema) { (g, i) =>
      val row = g.newGroup().append("id", i)
      val len = (i % 4).toInt
      val list = row.addGroup("halves") // present even when empty
      (0 until len).foreach { j =>
        val bits = floatToHalfBits(halfOf(i, j))
        list.addGroup("list").append("element",
          Binary.fromConstantByteArray(Array((bits & 0xFF).toByte, ((bits >> 8) & 0xFF).toByte)))
      }
      row
    }(n)
  }

  /** `id: int64, u: uint64` with u = unsigned(id) given as RAW 64 bits
    * (so values above Long.MaxValue are expressible: bits = v - 2^64). */
  def writeUInt64(path: String, n: Long, bitsOf: Long => Long): Unit = {
    val schema = Types.buildMessage()
      .required(INT64).named("id")
      .required(INT64).as(LogicalTypeAnnotation.intType(64, false)).named("u")
      .named("uint64_fixture")
    write(path, schema) { (g, i) =>
      g.newGroup().append("id", i).append("u", bitsOf(i))
    }(n)
  }
}
