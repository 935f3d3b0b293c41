package graft

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Second physical forms of operators that `src/main` implements once.
  * Each is the plain, slower composition a kernel or custom operator
  * replaced; the specs compare the main path against it on the same
  * inputs, so the kernel stays pinned to an independent formulation. */
object Oracles {

  /** [[graft.ext.Dedup.minhashSignatures]] as explode + min-aggregate:
    * shingles exploded and hashed with codegen'd `md5` expressions,
    * then min-aggregated per doc (lane i = 8-hex chunk i%4 of
    * md5((i/4) ':' shingle)). */
  def explodeMinhashSignatures(docs: DataFrame, idCol: String,
                               textCol: String, n: Int,
                               k: Int): DataFrame = {
    val exploded = graft.ext.Dedup.explodedShingles(docs, idCol, textCol, n)
    val digests = (0 to (k - 1) / 4).map(m =>
      md5(concat(lit(s"$m:"), col("sh"))))
    val chunks = (0 until k).map(i =>
      substring(digests(i / 4), (i % 4) * 8 + 1, 8).as(s"c$i"))
    exploded.select(col("doc_id") +: chunks: _*)
      .groupBy(col("doc_id"))
      .agg(min(col("c0")).as("m0"),
        (1 until k).map(i => min(col(s"c$i")).as(s"m$i")): _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** [[graft.ext.Dedup.assembleNgrams]] as posexplode + `lead` windows
    * over token position: (doc_id, sh) rows, n >= 2, docs with fewer
    * than n tokens contribute nothing. */
  def windowNgrams(tokDf: DataFrame, n: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(j => lead(col("tok"), j).over(w))
    tokDf.filter(size(col("toks")) >= n)
      .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "tok")))
      .withColumn("__last", leads.last)
      .withColumn("sh", concat_ws(" ", col("tok") +: leads: _*))
      .filter(col("__last").isNotNull) // concat_ws would silently skip
      .select(col("doc_id"), col("sh")) // nulls → short tail shingles
  }

  /** [[graft.plans.TokenSetEncode]] as a higher-order-function
    * composition: sorted distinct xxhash64 token ids. */
  def hofTokenSetEncode(toks: Column): Column =
    sort_array(array_distinct(transform(toks, t => xxhash64(t))))

  /** 16-bit SimHash ([[graft.plans.SimHashSig]]) as an expression fold:
    * per bit position b, sum ±1 over tokens by whether hex nibble b of
    * md5(token) has its high bit set; fingerprint bit b = (sum > 0). */
  def simhash16(toks: Column): Column =
    (0 until 16).map { bit =>
      val contrib = aggregate(toks, lit(0),
        (acc, t) => acc +
          when(substring(md5(t), bit + 1, 1) >= "8", 1).otherwise(-1))
      when(contrib > 0, lit(1 << bit)).otherwise(lit(0))
    }.reduce(_ + _)

  /** [[graft.ext.Dedup.simhashFingerprints]] through [[simhash16]]:
    * (doc_id, simhash), docs without tokens get no row. */
  def simhashFold(docs: DataFrame, idCol: String,
                  textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        graft.ext.TextAnalysis.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), simhash16(col("toks")).as("simhash"))

  /** [[graft.ext.WavAudioCodec.envelopeFp]] as a higher-order-function
    * composition (interpreted lambdas, ~8 ms/row). */
  def envelopeFpHof(emb: Column, W: Int = 9): Column = {
    val n = size(emb)
    val en = transform(sequence(lit(0), lit(W - 1)), w => {
      val vs = filter(emb, (_, i) =>
        floor(i.cast("double") * W / n) === w.cast("long"))
      aggregate(vs, lit(0.0d),
        (acc, x) => acc + x.cast("double") * x.cast("double"),
        acc => acc / size(vs))
    })
    aggregate(sequence(lit(0), lit(W - 2)), lit(0L), (acc, w) =>
      acc + when(element_at(en, w + 2) > element_at(en, w + 1),
        call_function("shiftleft", lit(1L), w.cast("int"))).otherwise(0L))
  }

  /** [[graft.ext.CorpusStats.globalRank]] with the (pid, idx) columns
    * attached by `mapPartitions` over external Rows. */
  def globalRankRows(df: DataFrame, orderCols: Seq[Column],
                     partitions: Int): DataFrame = {
    val schema = df.schema
      .add("__pid", IntegerType, nullable = false)
      .add("__idx", LongType, nullable = false)
    val indexed = df.repartitionByRange(partitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        it.zipWithIndex.map { case (r, i) =>
          Row.fromSeq(r.toSeq :+ pid :+ i.toLong)
        }
      }(Encoders.row(schema))
      .localCheckpoint()
    val counts = indexed.groupBy(col("__pid")).agg(count(lit(1)).as("__n"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__n")), lit(0L)).as("__offset"))
    indexed.join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__offset") + col("__idx") + 1)
      .drop("__pid", "__idx", "__offset")
  }

  /** [[graft.ext.CorpusStats.globalCumSum]] with the in-partition
    * prefix sum attached by `mapPartitions` over external Rows. */
  def globalCumSumRows(df: DataFrame, orderCols: Seq[Column],
                       valueCol: String, partitions: Int): DataFrame = {
    val valueIdx = df.schema.fieldIndex(valueCol)
    val schema = df.schema
      .add("__pid", IntegerType, nullable = false)
      .add("__pcum", LongType, nullable = false)
      .add("__ridx", LongType, nullable = false)
    val summed = df.repartitionByRange(partitions, orderCols: _*)
      .sortWithinPartitions(orderCols: _*)
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var acc = 0L
        var idx = 0L
        it.map { r =>
          acc += r.getAs[Number](valueIdx).longValue()
          idx += 1
          Row.fromSeq(r.toSeq :+ pid :+ acc :+ idx)
        }
      }(Encoders.row(schema))
      .localCheckpoint()
    val totals = summed.groupBy(col("__pid"))
      .agg(max_by(col("__pcum"), col("__ridx")).as("__t"))
    val offsets = totals.as("a")
      .join(totals.as("b"), col("b.__pid") < col("a.__pid"), "left")
      .groupBy(col("a.__pid").as("__pid"))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__offset"))
    summed.join(broadcast(offsets), "__pid")
      .withColumn("cum", col("__offset") + col("__pcum"))
      .drop("__pid", "__pcum", "__ridx", "__offset")
  }

  /** The K5 run summary recomputed from a batch: the aggregate whose
    * row [[graft.pipeline.Pipelines.sinkBatch]] builds from the values
    * its sink writers return. */
  def summarize(source: String, locations: Long, measures: DataFrame): DataFrame =
    measures.agg(lit(source).as("source_name"), lit(locations).as("locations"),
      count(lit(1)).as("measures"), min(col("timestamp")).as("from"),
      max(col("timestamp")).as("to"))

  /** [[graft.sinks.Sinks.writeEnvelopeJson]]'s per-day v0.1 documents
    * as (day, value), with the locations gathered by a one-row
    * `collect_list` aggregate cross-joined to every day's measures. */
  def crossJoinedEnvelopes(measures: DataFrame, locations: DataFrame,
                           source: String): DataFrame = {
    val m = measures.withColumn("timestamp",
      date_format(col("timestamp"), "yyyy-MM-dd'T'HH:mm:ss'Z'"))
    val locAgg = locations
      .agg(collect_list(struct(locations.columns.map(col): _*)).as("locations"))
    val meta = struct(lit("v0.1").as("schema"), lit(source).as("source"),
      lit("ingest-id").as("matching_method")).as("meta")
    m.withColumn("day", substring(col("timestamp"), 1, 10))
      .groupBy(col("day"))
      .agg(collect_list(struct(m.columns.map(col): _*)).as("measures"))
      .crossJoin(locAgg)
      .select(col("day"),
        to_json(struct(meta, col("measures"), col("locations"))).as("value"))
  }
}
