package graft.sources

import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Source/sink surface: schema-checked readers and scale-aware writers
  * for the formats the engine supports (parquet, ORC, CSV, JSON, text).
  *
  * Scale notes (100 TB):
  * - `writePartitioned` lays data out for partition pruning — the first
  *   thing a petabyte table needs; readers filtering on the partition
  *   columns never touch non-matching files (spec-verified
  *   PartitionFilters).
  * - `writeBucketed` pre-shuffles once at write time so every future
  *   equi-join/aggregation on the bucket keys is exchange-free
  *   (spec-verified no-exchange join).
  * - `repartitionForWrite` sizes output files: one file per partition
  *   column value per `filesPerPartition` target, avoiding both the
  *   small-files problem and single-writer hotspots.
  */
object Sources {

  def parquet(s: SparkSession, path: String): DataFrame = s.read.parquet(path)
  def orc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  /** CSV with an explicit schema (never infer on a 100 TB lake — schema
    * inference is a full extra scan). */
  def csv(s: SparkSession, path: String, schema: StructType,
          header: Boolean = true): DataFrame =
    s.read.option("header", header.toString).schema(schema).csv(path)

  /** JSON-lines with an explicit schema (same no-inference rule). */
  def json(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** JSONL sink — the LLM-corpus interchange format as it actually
    * ships: newline-delimited JSON, compressed per part file. Default
    * gzip (the universal `.json.gz` corpus convention; pass "zstd" on
    * clusters whose Hadoop ships the native codec — this sandbox's
    * doesn't — or None for plain). Splittability note for the 100 TB
    * reader: gzip/zstd JSON is NOT splittable — one part = one read
    * task — so the WRITER controls read parallelism via its partition
    * count; write with enough partitions (or repartition first) that a
    * downstream scan saturates the cluster. */
  def writeJsonl(df: DataFrame, path: String,
                 codec: Option[String] = Some("gzip")): Unit = {
    val w = df.write.mode("overwrite")
    codec.fold(w)(c => w.option("compression", c)).json(path)
  }

  // ---- Packed token shards (trainer-facing binary sink) ----

  /** Completion marker dropped at the shard-store root after the last
    * file lands (the kmvStoreMarker discipline: the per-file writer has
    * no _SUCCESS committer, so readers gate on this). */
  val packedShardsMarker = "_GRAFT_SHARDS_COMPLETE"

  /** Pad token id filling the tail of each bucket's last bin — -1 is
    * outside the 31-bit id space every tokenizer here emits. */
  val packedShardPad: Int = -1

  private[sources] def shardFileName(bucket: Long, bin: Long): String =
    f"shard-$bucket%05d-$bin%09d.bin"

  /** TRAINER-FACING PACKED TOKEN-SHARD SINK (round 11): materialize the
    * q98 concat-and-split layout as the fixed-capacity binary shard
    * files a pre-training data loader memory-maps — `capacity`
    * little-endian int32 token ids per file, one FILE per bin, named
    * shard-<bucket>-<bin>.bin; every bin is exactly capacity·4 bytes,
    * full except each bucket's last, whose tail is `packedShardPad`.
    * Documents straddle bins by construction (concat-and-split), so a
    * loader reads gapless token streams with zero per-document seek
    * state. Alongside the shards: `layout/` (the per-document
    * (bucket, bin, offset) table, q98's shape) and `index/` (per-bin
    * fill/pad/doc-start counts — the audit table q246 oracles), plus
    * the completion marker.
    *
    * Scale (100 TB): one corpus scan feeds the per-bucket prefix-sum
    * window (buckets = O(executors) concurrent sorts, never a global
    * order); the bin assembly shuffles (bucket, bin)-keyed cells once
    * — collect_list per bin is bounded by `capacity` — and each
    * executor writes its own files through the Hadoop FS API (works
    * against HDFS/S3A the same as the local FS; the per-task
    * Configuration() picks up the cluster's core-site). The index is
    * pure arithmetic on per-bucket totals — no second corpus pass. */
  def writePackedShards(df: DataFrame, id: String,
                        tokenIds: org.apache.spark.sql.Column,
                        capacity: Int, buckets: Int, path: String): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    require(capacity >= 1 && buckets >= 1)
    val w = Window.partitionBy(col("bucket")).orderBy(col(id).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = df.select(col(id), (col(id) % buckets).as("bucket"),
        tokenIds.as("tids"))
      .withColumn("n_tokens", size(col("tids")).cast("long"))
      .withColumn("start_tok", coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .persist()
    val layout = base.select(col(id), col("bucket"),
      graft.functions.F.idiv(col("start_tok"), lit(capacity.toLong)).as("bin_id"),
      (col("start_tok") % capacity).as("bin_offset"), col("n_tokens"))
    layout.write.mode("overwrite").parquet(s"$path/layout")
    val toks = base.select(col("bucket"), col("start_tok"),
        posexplode(col("tids")).as(Seq("pos", "tid")))
      .select(col("bucket"),
        graft.functions.F.idiv(col("start_tok") + col("pos"),
          lit(capacity.toLong)).as("bin"),
        ((col("start_tok") + col("pos")) % capacity).as("off"), col("tid"))
    val packed = toks.groupBy(col("bucket"), col("bin"))
      .agg(sort_array(collect_list(struct(col("off"), col("tid")))).as("cells"))
      .select(col("bucket"), col("bin"),
        graft.functions.F.packBinCells(col("cells"), capacity, packedShardPad)
          .as("bytes"))
    val shardsDir = s"$path/shards"
    packed.foreachPartition { (it: Iterator[Row]) =>
      val conf = new org.apache.hadoop.conf.Configuration()
      it.foreach { r =>
        val p = new org.apache.hadoop.fs.Path(shardsDir,
          shardFileName(r.getLong(0), r.getLong(1)))
        val fs = p.getFileSystem(conf)
        val out = fs.create(p, true)
        try out.write(r.getAs[Array[Byte]](2)) finally out.close()
      }
    }
    shardIndexFromLayout(layout, capacity).write.mode("overwrite")
      .parquet(s"$path/index")
    base.unpersist()
    val mp = new org.apache.hadoop.fs.Path(path, packedShardsMarker)
    val fs = mp.getFileSystem(
      df.sparkSession.sparkContext.hadoopConfiguration)
    fs.create(mp, true).close()
  }

  /** Per-bin audit table from the per-document layout alone — pure
    * arithmetic on per-bucket token totals (a bucket's bins are
    * 0..ceil(T_b/capacity)−1, all full except the last), joined with
    * the per-bin document-start counts. No token re-scan. */
  def shardIndexFromLayout(layout: DataFrame, capacity: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val perBucket = layout.groupBy(col("bucket"))
      .agg(sum(col("n_tokens")).as("t_b"))
      .withColumn("n_bins", graft.functions.F.idiv(
        col("t_b") + lit((capacity - 1).toLong), lit(capacity.toLong)))
      // a zero-token bucket (every doc tokenized to an empty id array)
      // has NO bins — without this guard sequence(0, -1) descends and
      // fabricates two phantom full bins (0 and -1)
      .filter(col("n_bins") > 0)
    val bins = perBucket.select(col("bucket"), col("t_b"), col("n_bins"),
        explode(sequence(lit(0L), col("n_bins") - 1L)).as("bin_id"))
      .select(col("bucket"), col("bin_id"),
        when(col("bin_id") < col("n_bins") - 1L, lit(capacity.toLong))
          .otherwise(col("t_b") - (col("n_bins") - 1L) * capacity).as("n_fill"))
    val starts = layout.groupBy(col("bucket"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs_start"))
    bins.join(starts, Seq("bucket", "bin_id"), "left")
      .select(col("bucket"), col("bin_id"),
        coalesce(col("n_docs_start"), lit(0L)).as("n_docs_start"),
        col("n_fill"), (lit(capacity.toLong) - col("n_fill")).as("n_pad"))
  }

  /** Read a packed shard store back as (bucket, bin_id, bin_offset,
    * token_id) — pads included (filter token_id != packedShardPad for
    * the real stream). One read task per shard file; the filename
    * carries the (bucket, bin) key so no index lookup is needed. */
  def readPackedShards(s: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val pat = "shard-(\\d+)-(\\d+)\\.bin$"
    s.read.format("binaryFile").load(s"$path/shards/*.bin")
      .select(regexp_extract(col("path"), pat, 1).cast("long").as("bucket"),
        regexp_extract(col("path"), pat, 2).cast("long").as("bin_id"),
        graft.functions.F.unpackInts(col("content")).as("tids"))
      .select(col("bucket"), col("bin_id"),
        posexplode(col("tids")).as(Seq("off", "token_id")))
      .select(col("bucket"), col("bin_id"),
        col("off").cast("long").as("bin_offset"), col("token_id"))
  }

  // ---- Avro (container files) ----
  //
  // This distribution ships Avro core + avro-mapred but NOT the
  // spark-avro connector, so the interchange format rides the Hadoop
  // AvroKey{Input,Output}Format directly: the writer emits one
  // container file per partition (the normal distributed-sink shape),
  // the reader splits containers at sync markers — both sides scale
  // exactly like the other file sources. Types cover the interchange
  // subset (boolean/int/long/float/double/string/binary, nullable as
  // [null, T] unions) PLUS the schema-registry logical types every
  // real Avro estate carries (round 10): decimal (bytes + precision/
  // scale, big-endian two's-complement unscaled value per the Avro
  // spec), timestamp-micros (long), and date (int epoch days). Richer
  // nested types should ride parquet/ORC.

  /** Catalyst StructType → Avro record schema (JSON). */
  def avroSchemaJson(schema: StructType, name: String = "GraftRecord"): String = {
    import org.apache.spark.sql.types._
    val fields = schema.fields.map { f =>
      val t = f.dataType match {
        case BooleanType => "\"boolean\""
        case IntegerType => "\"int\""
        case LongType    => "\"long\""
        case FloatType   => "\"float\""
        case DoubleType  => "\"double\""
        case StringType  => "\"string\""
        case BinaryType  => "\"bytes\""
        case d: DecimalType =>
          s"""{"type": "bytes", "logicalType": "decimal", """ +
            s""""precision": ${d.precision}, "scale": ${d.scale}}"""
        case TimestampType =>
          """{"type": "long", "logicalType": "timestamp-micros"}"""
        case DateType =>
          """{"type": "int", "logicalType": "date"}"""
        case other => throw new IllegalArgumentException(
          s"avro interchange supports primitive columns, not $other " +
            s"(column ${f.name}); cast or use parquet/ORC")
      }
      val typ = if (f.nullable) s"""["null", $t]""" else t
      s"""{"name": "${f.name}", "type": $typ}"""
    }
    s"""{"type": "record", "name": "$name", "fields": [${fields.mkString(", ")}]}"""
  }

  /** Catalyst value → Avro encoding for one column (identity for the
    * primitive subset; logical types get the spec-mandated physical
    * encodings). Both java.sql and java.time externals are accepted —
    * the session's datetimeJava8API flag decides which Spark hands
    * over. */
  private def avroEncoder(dt: org.apache.spark.sql.types.DataType): Any => Any = {
    import org.apache.spark.sql.types._
    dt match {
      case d: DecimalType => {
        case bd: java.math.BigDecimal =>
          // setScale is exact here: Catalyst already conformed the
          // value to (precision, scale), so no rounding can occur
          java.nio.ByteBuffer.wrap(
            bd.setScale(d.scale).unscaledValue().toByteArray)
        case v => throw new IllegalArgumentException(s"decimal column got $v")
      }
      case TimestampType => {
        case ts: java.sql.Timestamp =>
          val i = ts.toInstant
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case i: java.time.Instant =>
          i.getEpochSecond * 1000000L + i.getNano / 1000L
        case v => throw new IllegalArgumentException(s"timestamp column got $v")
      }
      case DateType => {
        case dte: java.sql.Date => dte.toLocalDate.toEpochDay.toInt
        case ld: java.time.LocalDate => ld.toEpochDay.toInt
        case v => throw new IllegalArgumentException(s"date column got $v")
      }
      case BinaryType => {
        case b: Array[Byte] => java.nio.ByteBuffer.wrap(b)
        case v => v
      }
      case _ => identity[Any]
    }
  }

  /** Avro datum → Catalyst external value for one column (inverse of
    * avroEncoder; java.sql externals, the createDataFrame default). */
  private def avroDecoder(dt: org.apache.spark.sql.types.DataType): Any => Any = {
    import org.apache.spark.sql.types._
    def bytesOf(v: Any): Array[Byte] = {
      val bb = v.asInstanceOf[java.nio.ByteBuffer]
      val a = new Array[Byte](bb.remaining()); bb.duplicate().get(a); a
    }
    dt match {
      case d: DecimalType => v =>
        new java.math.BigDecimal(new java.math.BigInteger(bytesOf(v)), d.scale)
      case TimestampType => v => {
        val us = v.asInstanceOf[Long]
        java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
          Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L))
      }
      case DateType => v =>
        java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(v.asInstanceOf[Int].toLong))
      case BinaryType => v => bytesOf(v)
      case StringType => {
        case u: org.apache.avro.util.Utf8 => u.toString
        case v => v
      }
      case _ => identity[Any]
    }
  }

  /** Distributed Avro write: one container file per partition. */
  def writeAvro(df: DataFrame, path: String): Unit = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.{GenericData, GenericRecord}
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyOutputFormat}
    import org.apache.hadoop.io.NullWritable
    val json = avroSchemaJson(df.schema)
    val n = df.schema.length
    val encoders = df.schema.fields.map(f => avroEncoder(f.dataType))
    val sc = df.sparkSession.sparkContext
    val job = org.apache.hadoop.mapreduce.Job.getInstance(sc.hadoopConfiguration)
    AvroJob.setOutputKeySchema(job, new Schema.Parser().parse(json))
    val out = new org.apache.hadoop.fs.Path(path)
    out.getFileSystem(sc.hadoopConfiguration).delete(out, true)
    df.rdd.mapPartitions { rows =>
      // The schema travels as its JSON (Schema's Java serialization is
      // not a cross-version contract); parsed once per partition.
      val schema = new Schema.Parser().parse(json)
      rows.map { r =>
        val rec = new GenericData.Record(schema)
        var i = 0
        while (i < n) {
          rec.put(i, if (r.isNullAt(i)) null else encoders(i)(r.get(i)))
          i += 1
        }
        (new AvroKey[GenericRecord](rec), NullWritable.get())
      }
    }.saveAsNewAPIHadoopFile(path,
      classOf[AvroKey[GenericRecord]], classOf[NullWritable],
      classOf[AvroKeyOutputFormat[GenericRecord]], job.getConfiguration)
  }

  /** Avro read with an explicit expected schema (the same no-inference
    * rule as csv/json; a reader schema also makes Avro do its own
    * schema-resolution against whatever the files carry). */
  def avro(s: SparkSession, path: String, schema: StructType): DataFrame = {
    import org.apache.avro.Schema
    import org.apache.avro.generic.GenericRecord
    import org.apache.avro.mapred.AvroKey
    import org.apache.avro.mapreduce.{AvroJob, AvroKeyInputFormat}
    import org.apache.hadoop.io.NullWritable
    val json = avroSchemaJson(schema)
    val n = schema.length
    val decoders = schema.fields.map(f => avroDecoder(f.dataType))
    val job = org.apache.hadoop.mapreduce.Job.getInstance(s.sparkContext.hadoopConfiguration)
    AvroJob.setInputKeySchema(job, new Schema.Parser().parse(json))
    val rows = s.sparkContext.newAPIHadoopFile(path,
        classOf[AvroKeyInputFormat[GenericRecord]],
        classOf[AvroKey[GenericRecord]], classOf[NullWritable],
        job.getConfiguration)
      .map { case (k, _) =>
        // The input format REUSES the record object — every field is
        // copied out (Utf8 → String, ByteBuffer → fresh array, logical
        // types rebuilt) before the next record is read.
        val rec = k.datum()
        Row.fromSeq((0 until n).map { i =>
          rec.get(i) match {
            case null => null
            case v => decoders(i)(v)
          }
        })
      }
    s.createDataFrame(rows, schema)
  }

  /** Hive-style partitioned layout: `path/col=value/part-*.parquet`. */
  def writePartitioned(df: DataFrame, path: String, cols: Seq[String],
                       mode: String = "overwrite"): Unit =
    df.write.mode(mode).partitionBy(cols: _*).parquet(path)

  /** Bucketed + sorted table registered in the catalog; joins and
    * aggregations on `cols` read it exchange-free. */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    buckets: Int, cols: Seq[String]): Unit =
    df.write.option("path", path)
      .bucketBy(buckets, cols.head, cols.tail: _*)
      .sortBy(cols.head, cols.tail: _*)
      .mode("overwrite").saveAsTable(table)

  /** Pre-shuffle so each output partition directory gets
    * `filesPerPartition` files instead of one per task. */
  def repartitionForWrite(df: DataFrame, partitionCols: Seq[String],
                          filesPerPartition: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, pmod, xxhash64, lit}
    val key = pmod(xxhash64(partitionCols.map(col): _*), lit(filesPerPartition))
    df.repartition(partitionCols.map(col) :+ key: _*)
  }

  /** Z-ORDERED parquet layout: range-partition and sort the table by the
    * Morton interleave of two long columns, so every output file covers
    * a narrow min/max range on BOTH columns at once and the reader's
    * file/row-group skipping prunes on predicates against either — the
    * layout a plain sort gives only its leading column.
    *
    * Both columns are linearly rescaled to a shared 21-bit space before
    * interleaving (one tiny min/max aggregate first): interleaving RAW
    * values makes the wider-ranged column's high bits dominate every
    * comparison and degenerates the curve into a plain sort on that
    * column. Linear scaling handles range mismatch; heavily skewed
    * distributions would want a quantile-rank encode instead (same
    * interleave, ntile ranks in). The z-key is a codegen'd native
    * expression (functions.ZOrder2) computed in-scan;
    * repartitionByRange samples it, so files stay balanced even when
    * the key space is sparse. The key column itself is not written. */
  /** A column name not already present on df (the z-key is transient —
    * computed, sorted on, dropped — but must not clobber a user column). */
  private def freshName(df: DataFrame, base: String): String =
    Iterator.from(0)
      .map(i => if (i == 0) base else s"$base$i")
      .find(n => !df.columns.contains(n)).get

  /** Shared tail of both z-order writers: range-partition on the key
    * (sampled, so files stay balanced in a sparse key space), sort
    * within files, drop the transient key, write. */
  private def writeByZKey(keyed: DataFrame, zkey: String, path: String,
                          numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.col
    keyed.repartitionByRange(numFiles, col(zkey))
      .sortWithinPartitions(col(zkey))
      .drop(zkey)
      .write.mode("overwrite").parquet(path)
  }

  def writeZOrdered(df: DataFrame, path: String, colA: String, colB: String,
                    numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{col, min, max, lit}
    val m = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    if (m.isNullAt(0) || m.isNullAt(2)) {
      // Empty input (or an all-null key column): nothing to cluster;
      // write the rows as-is rather than NPE-ing on the missing bounds.
      df.write.mode("overwrite").parquet(path)
      return
    }
    val bits21 = (1L << 21) - 1
    // Column arithmetic (not SQL-text splicing) so names needing
    // backticks resolve like they do in every other writer here; div
    // via IntegralDivide keeps everything in exact long math. Narrow
    // ranges scale UP by multiply-then-divide (range ≤ 2^21 bounds the
    // product at ~2^42 — provably no overflow); wide ranges scale DOWN
    // by a precomputed step (multiplying first would overflow Long past
    // ~2^42 of range — ns timestamps, hash ids). Both directions land
    // in [0, bits21]: the two columns MUST occupy the same bit-width or
    // the wider one's high bits dominate every z comparison and the
    // curve degenerates into a plain sort on that column.
    def scaled(c: String, mn: Long, mx: Long) = {
      val x = col(c).cast("long") - lit(mn)
      val range = BigInt(mx) - BigInt(mn)
      if (range <= bits21)
        graft.functions.F.idiv(x * lit(bits21), lit(range.toLong max 1L))
      else
        graft.functions.F.idiv(x, lit((range / bits21 + 1).toLong))
    }
    val zkey = freshName(df, "__zkey")
    writeByZKey(df.withColumn(zkey, graft.functions.F.zorder2(
      scaled(colA, m.getLong(0), m.getLong(1)),
      scaled(colB, m.getLong(2), m.getLong(3)))), zkey, path, numFiles)
  }

  /** N-COLUMN z-ordered write (2..8 columns): every column linearly
    * rescaled into the SHARED floor(64/N)-bit space (the equal-width
    * contract that keeps any one column from dominating the curve),
    * then round-robin bit-interleaved by the codegen'd ZOrderN key.
    * Three or four columns is where real layout tuning lands (time ×
    * tenant × region); each added column halves every column's per-file
    * selectivity, so N is bounded at 8 by construction and by sense. */
  def writeZOrderedN(df: DataFrame, path: String, cols: Seq[String],
                     numFiles: Int): Unit = {
    import org.apache.spark.sql.functions.{col, min, max, lit}
    require(cols.size >= 2 && cols.size <= 8,
      s"writeZOrderedN interleaves 2..8 columns, got ${cols.size}")
    val aggs = cols.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val m = df.agg(aggs.head, aggs.tail: _*).head()
    if (cols.indices.exists(i => m.isNullAt(2 * i))) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val bitsMax = (1L << (64 / cols.size)) - 1
    def scaled(c: String, mn: Long, mx: Long) = {
      val x = col(c).cast("long") - lit(mn)
      val range = BigInt(mx) - BigInt(mn)
      if (range <= bitsMax)
        // the stretch product x·bitsMax reaches ~2^64 at N=2 (32-bit
        // lanes), past Long — run it in decimal(38,0), exact and
        // un-wrappable, then IntegralDivide returns the long key
        graft.functions.F.idiv(x.cast("decimal(38,0)") * lit(bitsMax),
          lit(range.toLong max 1L))
      else
        graft.functions.F.idiv(x, lit((range / bitsMax + 1).toLong))
    }
    val keys = cols.zipWithIndex.map { case (c, i) =>
      scaled(c, m.getLong(2 * i), m.getLong(2 * i + 1)) }
    val zkey = freshName(df, "__zkey")
    writeByZKey(df.withColumn(zkey, graft.functions.F.zorderN(keys: _*)),
      zkey, path, numFiles)
  }

  /** Z-ORDERED write, RANK-encoded: like writeZOrdered but each column
    * is first mapped to its quantile-rank bucket (approxQuantile
    * boundaries — one tiny driver array per column — then a codegen'd
    * binary search per row). Linear min/max rescaling collapses a
    * heavy-tailed column into a few buckets, so files stop
    * discriminating on it; rank buckets hold ~equal row counts under
    * ANY distribution, which is what production z-order (Delta OPTIMIZE
    * ZORDER) does. Costs ONE approxQuantile job over both columns up
    * front; the per-row encode is map-side. */
  def writeZOrderedByRank(df: DataFrame, path: String, colA: String,
                          colB: String, numFiles: Int,
                          buckets: Int = 1 << 12): Unit = {
    import org.apache.spark.sql.functions.col
    require(buckets >= 2 && buckets <= (1 << 20),
      s"buckets must be in [2, 2^20], got $buckets")
    val probs = (1 until buckets).map(_.toDouble / buckets).toArray
    // ONE approxQuantile job computes both columns' boundaries — a
    // per-column call would scan the input twice.
    val da = freshName(df, "__da")
    val db = freshName(df, "__db")
    val both = df.withColumn(da, col(colA).cast("double"))
      .withColumn(db, col(colB).cast("double"))
      .stat.approxQuantile(Array(da, db), probs, 1.0 / (4.0 * buckets))
    def bounds(b: Array[Double]): Seq[Double] =
      if (b.isEmpty) Seq(0.0) else b.toSeq
    val zkey = freshName(df, "__zkey")
    writeByZKey(df.withColumn(zkey, graft.functions.F.zorder2(
      graft.functions.F.rankBucket(col(colA).cast("double"), bounds(both(0))),
      graft.functions.F.rankBucket(col(colB).cast("double"), bounds(both(1))))),
      zkey, path, numFiles)
  }

  /** COMPACT a parquet dataset: rewrite many small files into
    * ~targetFileBytes files. Small-file sprawl is what incremental
    * pipelines (per-batch appends, foreachBatch sinks, fine-grained
    * partitions) accumulate, and it taxes every later read with
    * per-file open/footer/scheduling overhead. The target count comes
    * from Catalyst's own scan-size estimate; the merge uses coalesce —
    * a LOCAL union of input splits with NO shuffle (repartition would
    * move every byte through an exchange just to rebalance; for
    * compaction, approximate file sizes at zero shuffle cost is the
    * right trade). Coalesce can only merge, never split: if the scan
    * already packed the input into fewer partitions than the target
    * (maxPartitionBytes/openCost packing), the output lands in that
    * fewer, larger set of files. Returns the ACTUAL number of part
    * files written, counted from the output, not the target. */
  def compact(s: SparkSession, inPath: String, outPath: String,
              targetFileBytes: Long = 512L << 20): Int = {
    val df = s.read.parquet(inPath)
    val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    val n = ((bytes + targetFileBytes - 1) / targetFileBytes).toInt max 1
    df.coalesce(n).write.mode("overwrite").parquet(outPath)
    val out = new org.apache.hadoop.fs.Path(outPath)
    out.getFileSystem(s.sparkContext.hadoopConfiguration)
      .listStatus(out).count(_.getPath.getName.startsWith("part-"))
  }
}
