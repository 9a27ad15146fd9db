package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, IOException, InputStream, OutputStream}
import java.util.zip.CRC32C

import graft.schema.FieldSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** TFRecord container + tf.train.Example codec, implemented from the
  * PUBLIC TensorFlow formats (framing: each record is
  * `uint64 len LE | uint32 masked_crc32c(len) | data | uint32
  * masked_crc32c(data)`; payload: the tf.train.Example protobuf with
  * bytes_list / float_list / int64_list features). The reference treats
  * TFRecord as its conversion/baseline path
  * (hybridbackend/tensorflow/benchmarks/data_benchmark_tfrecord.py,
  * docs/tutorial/ranking/taobao/data/to_tfrecord.py); this closes that
  * row of SURVEY §2.1 with a dependency-free Scala codec.
  *
  * The protobuf subset implemented is exactly what tf.train.Example
  * uses: varint / length-delimited wire types, packed and unpacked
  * repeated scalars, unknown fields skipped. CRC32C comes from the JDK
  * (java.util.zip.CRC32C) with TensorFlow's rotate+delta masking.
  */
object TfRecordCodec {

  sealed trait Feature
  final case class BytesList(values: Seq[Array[Byte]]) extends Feature
  final case class FloatList(values: Seq[Float]) extends Feature
  final case class Int64List(values: Seq[Long]) extends Feature

  // ---------- framing ----------

  private val MaskDelta: Int = 0xa282ead8L.toInt

  /** TensorFlow's masked CRC32C: rotate right 15, add the mask delta. */
  def maskedCrc(b: Array[Byte], off: Int, len: Int): Int = {
    val c = new CRC32C
    c.update(b, off, len)
    val crc = c.getValue.toInt
    ((crc >>> 15) | (crc << 17)) + MaskDelta
  }

  private def le32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >>> 8) & 0xff).toByte,
      ((v >>> 16) & 0xff).toByte, ((v >>> 24) & 0xff).toByte)

  private def readLe32(b: Array[Byte]): Int =
    (b(0) & 0xff) | ((b(1) & 0xff) << 8) | ((b(2) & 0xff) << 16) | ((b(3) & 0xff) << 24)

  /** Reads `n` bytes or returns null on clean EOF at offset 0; a
    * truncated tail (EOF mid-field) raises. */
  private def readFully(in: InputStream, n: Int): Array[Byte] = {
    val buf = new Array[Byte](n)
    var off = 0
    while (off < n) {
      val r = in.read(buf, off, n - off)
      if (r < 0) {
        if (off == 0) return null
        throw new IOException(s"truncated TFRecord: EOF after $off of $n bytes")
      }
      off += r
    }
    buf
  }

  /** Iterate the record payloads of one TFRecord stream, verifying both
    * CRCs (corruption raises IOException, like TF's DataLossError). */
  def readRecords(in: InputStream): Iterator[Array[Byte]] = new Iterator[Array[Byte]] {
    private var nextRec: Array[Byte] = _
    private var loaded = false
    private var done = false

    private def advance(): Array[Byte] = {
      val lenBuf = readFully(in, 8)
      if (lenBuf == null) return null
      val lenCrc = readFully(in, 4)
      if (lenCrc == null) throw new IOException("truncated TFRecord length CRC")
      if (readLe32(lenCrc) != maskedCrc(lenBuf, 0, 8))
        throw new IOException("corrupt TFRecord: length CRC mismatch")
      val len = java.lang.Long.reverseBytes(
        java.nio.ByteBuffer.wrap(lenBuf).getLong(0))
      require(len >= 0 && len <= Int.MaxValue, s"unreasonable TFRecord length $len")
      val data = readFully(in, len.toInt)
      if (data == null) throw new IOException("truncated TFRecord data")
      val dataCrc = readFully(in, 4)
      if (dataCrc == null) throw new IOException("truncated TFRecord data CRC")
      if (readLe32(dataCrc) != maskedCrc(data, 0, data.length))
        throw new IOException("corrupt TFRecord: data CRC mismatch")
      data
    }

    // all IO (and CRC failures) surface in hasNext, so callers can wrap
    // corruption policy around hasNext alone
    override def hasNext: Boolean = {
      if (!loaded && !done) {
        nextRec = advance()
        loaded = true
        if (nextRec == null) done = true
      }
      !done
    }
    override def next(): Array[Byte] = {
      if (!hasNext) throw new NoSuchElementException("end of TFRecord stream")
      loaded = false
      nextRec
    }
  }

  def writeRecord(out: OutputStream, data: Array[Byte]): Unit = {
    val lenBuf = new Array[Byte](8)
    var v = data.length.toLong
    var i = 0
    while (i < 8) { lenBuf(i) = (v & 0xff).toByte; v >>>= 8; i += 1 }
    out.write(lenBuf)
    out.write(le32(maskedCrc(lenBuf, 0, 8)))
    out.write(data)
    out.write(le32(maskedCrc(data, 0, data.length)))
  }

  // ---------- protobuf wire (the tf.train.Example subset) ----------

  private final class Cursor(var p: Int)

  private def readVarint(b: Array[Byte], c: Cursor): Long = {
    var shift = 0
    var v = 0L
    while (true) {
      val x = b(c.p)
      c.p += 1
      v |= (x & 0x7fL) << shift
      if ((x & 0x80) == 0) return v
      shift += 7
      if (shift > 63) throw new IOException("malformed varint")
    }
    v
  }

  /** Length varint with bounds validation: a malformed length in a
    * CRC-valid payload (negative after truncation, or past the
    * enclosing region) must fail as IOException — unchecked it would
    * move the cursor BACKWARDS and spin the parse loop forever, or
    * index out of bounds. */
  private def readLen(b: Array[Byte], c: Cursor, end: Int): Int = {
    val v = readVarint(b, c)
    if (v < 0 || v > end - c.p)
      throw new IOException(s"malformed protobuf length $v at offset ${c.p} (end $end)")
    v.toInt
  }

  private def advance(c: Cursor, n: Int, end: Int): Unit = {
    if (n > end - c.p)
      throw new IOException(s"truncated fixed-width field at offset ${c.p} (end $end)")
    c.p += n
  }

  private def skipField(b: Array[Byte], c: Cursor, wireType: Int, end: Int): Unit =
    wireType match {
      case 0 => readVarint(b, c)
      case 1 => advance(c, 8, end)
      case 2 => val len = readLen(b, c, end); c.p += len
      case 5 => advance(c, 4, end)
      case w => throw new IOException(s"unsupported protobuf wire type $w")
    }

  private def floatAt(b: Array[Byte], p: Int): Float =
    java.lang.Float.intBitsToFloat(
      (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) | ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24))

  private def parseFeature(b: Array[Byte], start: Int, end: Int): Feature = {
    val c = new Cursor(start)
    var result: Feature = null
    while (c.p < end) {
      val tag = readVarint(b, c)
      val field = (tag >>> 3).toInt
      val wt = (tag & 7).toInt
      (field, wt) match {
        case (1, 2) => // BytesList
          val len = readLen(b, c, end)
          val sub = c.p + len
          val vs = Seq.newBuilder[Array[Byte]]
          while (c.p < sub) {
            val t = readVarint(b, c)
            if ((t >>> 3).toInt == 1 && (t & 7) == 2) {
              val l = readLen(b, c, sub)
              vs += java.util.Arrays.copyOfRange(b, c.p, c.p + l)
              c.p += l
            } else skipField(b, c, (t & 7).toInt, sub)
          }
          result = BytesList(vs.result())
        case (2, 2) => // FloatList (packed or not)
          val len = readLen(b, c, end)
          val sub = c.p + len
          val vs = Seq.newBuilder[Float]
          while (c.p < sub) {
            val t = readVarint(b, c)
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 2) =>
                val l = readLen(b, c, sub)
                var i = c.p
                while (i < c.p + l) { vs += floatAt(b, i); i += 4 }
                c.p += l
              case (1, 5) => advance(c, 4, sub); vs += floatAt(b, c.p - 4)
              case (_, w) => skipField(b, c, w, sub)
            }
          }
          result = FloatList(vs.result())
        case (3, 2) => // Int64List (packed or not)
          val len = readLen(b, c, end)
          val sub = c.p + len
          val vs = Seq.newBuilder[Long]
          while (c.p < sub) {
            val t = readVarint(b, c)
            ((t >>> 3).toInt, (t & 7).toInt) match {
              case (1, 2) =>
                val l = readLen(b, c, sub)
                val packedEnd = c.p + l
                while (c.p < packedEnd) vs += readVarint(b, c)
              case (1, 0) => vs += readVarint(b, c)
              case (_, w) => skipField(b, c, w, sub)
            }
          }
          result = Int64List(vs.result())
        case (_, w) => skipField(b, c, w, end)
      }
    }
    if (result == null) Int64List(Nil) else result
  }

  /** Decode one tf.train.Example payload into (feature name -> value). */
  def decodeExample(b: Array[Byte]): Map[String, Feature] = {
    val out = Map.newBuilder[String, Feature]
    val c = new Cursor(0)
    while (c.p < b.length) {
      val tag = readVarint(b, c)
      if ((tag >>> 3).toInt == 1 && (tag & 7) == 2) { // Features
        val fl = readLen(b, c, b.length)
        val fEnd = c.p + fl
        while (c.p < fEnd) {
          val t = readVarint(b, c)
          if ((t >>> 3).toInt == 1 && (t & 7) == 2) { // map entry
            val el = readLen(b, c, fEnd)
            val eEnd = c.p + el
            var key: String = null
            var value: Feature = null
            while (c.p < eEnd) {
              val et = readVarint(b, c)
              ((et >>> 3).toInt, (et & 7).toInt) match {
                case (1, 2) =>
                  val l = readLen(b, c, eEnd)
                  key = new String(b, c.p, l, "UTF-8")
                  c.p += l
                case (2, 2) =>
                  val l = readLen(b, c, eEnd)
                  value = parseFeature(b, c.p, c.p + l)
                  c.p += l
                case (_, w) => skipField(b, c, w, eEnd)
              }
            }
            if (key != null && value != null) out += key -> value
          } else skipField(b, c, (t & 7).toInt, fEnd)
        }
      } else skipField(b, c, (tag & 7).toInt, b.length)
    }
    out.result()
  }

  private def writeVarint(o: ByteArrayOutputStream, value: Long): Unit = {
    var v = value
    while ((v & ~0x7fL) != 0) {
      o.write(((v & 0x7f) | 0x80).toInt)
      v >>>= 7
    }
    o.write((v & 0x7f).toInt)
  }

  private def writeLenDelim(o: ByteArrayOutputStream, field: Int, payload: Array[Byte]): Unit = {
    writeVarint(o, (field << 3) | 2)
    writeVarint(o, payload.length)
    o.write(payload, 0, payload.length)
  }

  private def encodeFeature(f: Feature): Array[Byte] = {
    val inner = new ByteArrayOutputStream()
    f match {
      case BytesList(vs) => vs.foreach(v => writeLenDelim(inner, 1, v))
      case FloatList(vs) => // packed, like feature.proto declares
        val packed = new ByteArrayOutputStream(vs.length * 4)
        vs.foreach { v =>
          val bits = java.lang.Float.floatToIntBits(v)
          packed.write(bits & 0xff); packed.write((bits >>> 8) & 0xff)
          packed.write((bits >>> 16) & 0xff); packed.write((bits >>> 24) & 0xff)
        }
        writeLenDelim(inner, 1, packed.toByteArray)
      case Int64List(vs) => // packed
        val packed = new ByteArrayOutputStream()
        vs.foreach(writeVarint(packed, _))
        writeLenDelim(inner, 1, packed.toByteArray)
    }
    val out = new ByteArrayOutputStream()
    val field = f match {
      case _: BytesList => 1
      case _: FloatList => 2
      case _: Int64List => 3
    }
    writeLenDelim(out, field, inner.toByteArray)
    out.toByteArray
  }

  /** Encode (name, value) features as one tf.train.Example payload. */
  def encodeExample(features: Seq[(String, Feature)]): Array[Byte] = {
    val fs = new ByteArrayOutputStream()
    features.foreach { case (name, f) =>
      val entry = new ByteArrayOutputStream()
      writeLenDelim(entry, 1, name.getBytes("UTF-8"))
      writeLenDelim(entry, 2, encodeFeature(f))
      writeLenDelim(fs, 1, entry.toByteArray)
    }
    val out = new ByteArrayOutputStream()
    writeLenDelim(out, 1, fs.toByteArray)
    out.toByteArray
  }
}

/** TFRecord read/write over the FieldSpec schema surface.
  *
  * Scale design: TFRecord has no internal index, so a FILE is the unit
  * of parallelism (exactly the reference's per-file reader model —
  * shard your corpus). Reads stream one record at a time (constant
  * memory per task); writes emit one .tfrecord file per partition via
  * the Hadoop FileSystem API, so any fs:// the cluster mounts works.
  * GZIP streams (the reference's to_tfrecord.py default) are detected
  * by magic bytes on read and opt-in on write.
  */
object TfRecordSource {

  /** Read TFRecord files as a DataFrame of `fields`. Scalar specs read
    * the list head; raggedRank-1 specs read the whole list. A feature
    * missing from a record needs a `defaultValue` on its spec (same
    * contract as the columnar readers, dataframe.py:638-641). */
  def read(spark: SparkSession, paths: Seq[String], fields: Seq[FieldSpec],
      skipCorrupted: Boolean = false): DataFrame = {
    fields.foreach(f => require(f.raggedRank <= 1 && f.shape.length <= 1,
      s"TFRecord read supports scalar and rank-1 list specs only; " +
        s"field ${f.name} declares raggedRank=${f.raggedRank} shape=${f.shape.mkString("x")}"))
    val schema = StructType(fields.map(f =>
      f.structField.copy(nullable = true)))
    val specs = fields.map(f => (f.name, f.leafType, f.raggedRank > 0 || f.shape.nonEmpty,
      f.defaultValue))
    val rows = spark.sparkContext
      .binaryFiles(paths.mkString(","))
      .flatMap { case (_, pds) =>
        def open(): java.io.InputStream = {
          val raw = new BufferedInputStream(pds.open())
          raw.mark(2)
          val m1 = raw.read(); val m2 = raw.read()
          raw.reset()
          if (m1 == 0x1f && m2 == 0x8b) new java.util.zip.GZIPInputStream(raw) else raw
        }
        val in = open()
        val records = TfRecordCodec.readRecords(in)
        // close the per-file stream as soon as the iterator is exhausted
        // (EOF, corrupt bail-out, or a decode error) — thousands of
        // files per executor would otherwise leak handles until GC
        def closeQuietly(): Unit = try in.close() catch { case _: IOException => () }
        val guarded =
          if (!skipCorrupted) new Iterator[Array[Byte]] {
            override def hasNext: Boolean = {
              val h = try records.hasNext catch { case e: Throwable => closeQuietly(); throw e }
              if (!h) closeQuietly()
              h
            }
            override def next(): Array[Byte] = records.next()
          }
          else new Iterator[Array[Byte]] {
            // corruption truncates the file at the last good record —
            // TFRecord has no sync markers to resync on (TF raises
            // DataLossError at the same point)
            private var failed = false
            override def hasNext: Boolean = {
              val h = !failed && {
                try records.hasNext
                catch { case _: IOException => failed = true; false }
              }
              if (!h) closeQuietly()
              h
            }
            override def next(): Array[Byte] = records.next()
          }
        guarded.map { rec =>
          val fs = TfRecordCodec.decodeExample(rec)
          Row.fromSeq(specs.map { case (name, leaf, isList, default) =>
            fs.get(name) match {
              case Some(f) => featureValue(f, leaf, isList, name)
              case None => default.orNull
            }
          })
        }
      }
    spark.createDataFrame(rows, schema)
  }

  private def featureValue(f: TfRecordCodec.Feature, leaf: DataType,
      isList: Boolean, name: String): Any = {
    import TfRecordCodec._
    def narrowed(v: Long, lo: Long, hi: Long): Long = {
      if (v < lo || v > hi) throw new IOException(
        s"feature $name: int64 value $v does not fit $leaf (no silent truncation)")
      v
    }
    def scalars: Seq[Any] = (f, leaf) match {
      case (Int64List(vs), LongType) => vs
      case (Int64List(vs), IntegerType) =>
        vs.map(v => narrowed(v, Int.MinValue, Int.MaxValue).toInt)
      case (Int64List(vs), ShortType) =>
        vs.map(v => narrowed(v, Short.MinValue, Short.MaxValue).toShort)
      case (Int64List(vs), BooleanType) => vs.map(_ != 0L)
      case (FloatList(vs), FloatType) => vs
      case (FloatList(vs), DoubleType) => vs.map(_.toDouble)
      case (BytesList(vs), StringType) => vs.map(new String(_, "UTF-8"))
      case (BytesList(vs), BinaryType) => vs
      case _ => throw new IOException(
        s"feature $name: ${f.getClass.getSimpleName} does not read as $leaf")
    }
    if (isList) scalars
    else scalars.headOption.orNull
  }

  /** Write `df` as one .tfrecord file per partition under `dir`.
    * Supported column types: integral, float/double (stored as float32
    * — tf.train.Example has no double list), string, binary, and
    * single-level arrays thereof; null columns are omitted from the
    * record (the TF missing-feature convention). */
  def write(df: DataFrame, dir: String, gzip: Boolean = false): Unit = {
    val schema = df.schema
    val dirPath = dir
    val hc = df.sparkSession.sparkContext.hadoopConfiguration
    // OVERWRITE semantics (like DataFrameWriter.mode("overwrite")): a
    // prior run's part files must not survive — a later write with
    // fewer partitions would otherwise leave stale parts that a read
    // silently mixes into the result
    val target = new org.apache.hadoop.fs.Path(dirPath)
    target.getFileSystem(hc).delete(target, true)
    // the session's Hadoop settings (credentials, custom filesystems)
    // must reach the executors; Configuration itself is not
    // serializable, so ship the entries that DIFFER from the stock
    // defaults (executors reload the same default resources — shipping
    // all ~1000 default entries would bloat the task closure for
    // nothing) and replay them
    val confEntries = {
      val defaults = new org.apache.hadoop.conf.Configuration()
      val it = hc.iterator()
      val b = Seq.newBuilder[(String, String)]
      while (it.hasNext) {
        val e = it.next()
        if (defaults.get(e.getKey) != e.getValue) b += e.getKey -> e.getValue
      }
      b.result()
    }
    df.rdd.mapPartitionsWithIndex { (idx, rows) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      confEntries.foreach { case (k, v) => conf.set(k, v) }
      val p = new org.apache.hadoop.fs.Path(
        dirPath, f"part-$idx%05d.tfrecord" + (if (gzip) ".gz" else ""))
      val fs = p.getFileSystem(conf)
      val raw = fs.create(p, true)
      val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
      try {
        rows.foreach { row =>
          val feats = schema.fields.iterator.zipWithIndex.flatMap { case (sf, i) =>
            if (row.isNullAt(i)) None
            else Some(sf.name -> toFeature(row, i, sf.dataType, sf.name))
          }.toSeq
          TfRecordCodec.writeRecord(out, TfRecordCodec.encodeExample(feats))
        }
      } finally out.close()
      Iterator.single(1)
    }.count(): Unit
  }

  private def toFeature(row: Row, i: Int, dt: DataType,
      name: String): TfRecordCodec.Feature = {
    import TfRecordCodec._
    // tf.train.Example lists cannot represent a null ELEMENT (only a
    // missing feature) — fail with the column name instead of a bare
    // NPE from boxing/getBytes deep in the encoder
    def noNulls[T](vs: Seq[T]): Seq[T] = {
      if (vs.exists(_ == null)) throw new IllegalArgumentException(
        s"TFRecord write: column $name contains a null array element " +
          "(tf.train.Example lists cannot hold nulls; filter or fill first)")
      vs
    }
    dt match {
      case LongType => Int64List(Seq(row.getLong(i)))
      case IntegerType => Int64List(Seq(row.getInt(i).toLong))
      case ShortType => Int64List(Seq(row.getShort(i).toLong))
      case BooleanType => Int64List(Seq(if (row.getBoolean(i)) 1L else 0L))
      case FloatType => FloatList(Seq(row.getFloat(i)))
      case DoubleType => FloatList(Seq(row.getDouble(i).toFloat))
      case StringType => BytesList(Seq(row.getString(i).getBytes("UTF-8")))
      case BinaryType => BytesList(Seq(row.getAs[Array[Byte]](i)))
      case ArrayType(LongType, _) =>
        Int64List(noNulls(row.getSeq[java.lang.Long](i)).map(_.longValue))
      case ArrayType(IntegerType, _) =>
        Int64List(noNulls(row.getSeq[java.lang.Integer](i)).map(_.longValue))
      case ArrayType(ShortType, _) =>
        Int64List(noNulls(row.getSeq[java.lang.Short](i)).map(_.longValue))
      case ArrayType(BooleanType, _) =>
        Int64List(noNulls(row.getSeq[java.lang.Boolean](i)).map(b => if (b) 1L else 0L))
      case ArrayType(FloatType, _) =>
        FloatList(noNulls(row.getSeq[java.lang.Float](i)).map(_.floatValue))
      case ArrayType(DoubleType, _) =>
        FloatList(noNulls(row.getSeq[java.lang.Double](i)).map(_.floatValue))
      case ArrayType(StringType, _) =>
        BytesList(noNulls(row.getSeq[String](i)).map(_.getBytes("UTF-8")))
      case ArrayType(BinaryType, _) =>
        BytesList(noNulls(row.getSeq[Array[Byte]](i)))
      case t => throw new IllegalArgumentException(
        s"TFRecord write does not support column type ${t.simpleString}")
    }
  }
}
