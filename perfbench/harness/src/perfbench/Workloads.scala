package perfbench

import scala.collection.mutable
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.JsonDSL._

import graft.Tables
import graft.api.QueryCompiler
import graft.api.QueryCompiler._
import graft.operators.{Predicates, Profiles}
import graft.pipeline.{Dedup, IndexStore, TextAnalysis}

/** One workload: builds its state in `setup`, runs one op per `run` call.
  * `run` returns the op kind ("read"/"write") and a thunk that turns the
  * op's output into its result record; the thunk runs after the timer
  * stops, so digests and checks are never timed.
  */
abstract class Workload(val spark: SparkSession, val data: String,
    val tr: Tracer) {
  implicit val formats: Formats = DefaultFormats
  /** Per-op values measured only in traced runs (prune reports, plan
    * shapes, index sizes), merged into the op's record.
    */
  val extras = mutable.Map.empty[Int, JObject]

  def setup(dir: String): Unit
  def run(op: JValue): (String, () => JValue)

  /** Where the first result of each registered query is written. */
  protected var resultsDir: String = _
  private val dumped = mutable.Set.empty[String]

  /** A registered query run by name through `SparkEntry.queries`. Its first
    * result is written out for the oracle check; every later one must carry
    * the same digest.
    */
  protected def registered(id: Int, name: String): (String, () => JValue) = {
    val df = tr.span("queries.build")(graft.SparkEntry.queries(name)(spark, data))
    val rows = tr.collect(df)
    planExtras(id, df)
    ("read", () => {
      if (dumped.add(name))
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
          .coalesce(1).write.parquet(s"$resultsDir/$name")
      digest(rows)
    })
  }

  def finish(): JValue =
    "oracle_sql" -> JObject(dumped.toList.sorted.flatMap(n =>
      graft.SparkEntry.oracleSql.get(n).map(sql => n -> JString(sql))))

  protected def str(j: JValue, k: String): String = (j \ k).extract[String]
  protected def int(j: JValue, k: String): Int = (j \ k).extract[Int]

  /** Rows are hashed one by one and summed, so the digest ignores order. */
  protected def digest(rows: Array[Row]): JObject =
    ("rows" -> rows.length) ~
      ("hash" -> rows.map(r => MurmurHash3.stringHash(r.toString).toLong).sum)

  protected def warm(tables: Seq[String]): Unit =
    tr.span("sources.warm")(tables.foreach(t =>
      Tables.load(spark, data, t).count()))

  protected def extra(op: Int, kv: JObject): Unit =
    if (tr.on) extras(op) = extras.getOrElse(op, JObject()) merge kv

  protected def planExtras(op: Int, df: DataFrame): Unit =
    if (tr.on) extra(op,
      "exchanges" -> PlanStats.exchanges(df.queryExecution.executedPlan))
}

object Workload {
  def apply(name: String, spark: SparkSession, data: String,
      tr: Tracer): Workload = name match {
    case "isolate_search" => new IsolateSearch(spark, data, tr)
    case "corpus_ingest" => new CorpusIngest(spark, data, tr)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  val NLoci = 7
}

/** Interactive isolate search: paged QuerySpecs through the compiler over a
  * skipping-registered entity layout, plus profile lookups and breakdowns.
  */
final class IsolateSearch(spark: SparkSession, data: String, tr: Tracer)
    extends Workload(spark, data, tr) {
  private var cat: Catalog = _
  private var wh: DataFrame = _

  def setup(dir: String): Unit = {
    resultsDir = s"$dir/results"
    warm(Seq("orders", "lineitem"))
    val layout = s"$dir/orders_layout"
    copyDir(s"$data/orders_layout", layout)
    tr.span("sources.register")(graft.sources.SkippingRegistry.register(
      spark, layout,
      Seq("o_orderdate", "o_totalprice", "o_orderstatus", "o_orderpriority"),
      Some("o_custkey")))
    // the dimension shapes of ApiQueries.buildCatalog over cached lineitem
    val li = Tables.load(spark, data, "lineitem")
    val stats = li.groupBy(col("l_orderkey").as("entity_id"))
      .agg(sum(col("l_quantity")).as("size"), count(lit(1)).as("contigs"),
        max(col("l_quantity")).as("n50")).cache()
    cat = QueryCompiler.registryCatalog(spark, layout, "o_orderkey").copy(
      newVersionCol = Some("new_version"),
      facts = Some(li
        .withColumn("allele", col("l_suppkey").cast("string"))
        .withColumn("status", when(col("l_linestatus") === "F", "confirmed")
          .otherwise("provisional"))),
      factEntityId = "l_orderkey", locusCol = "l_linenumber",
      alleleCol = "allele",
      eav = Some(li.select(col("l_orderkey").as("entity_id"),
        lit("rf").as("field"), col("l_returnflag").as("value"))),
      tags = Some(li.select(col("l_orderkey").as("entity_id"),
        col("l_linenumber").as("locus"),
        (col("l_linestatus") === "F").as("complete"),
        nullif(col("l_returnflag"), lit("N")).as("flag"))),
      seqbinStats = Some(stats),
      checks = Some(li.filter(col("l_returnflag") =!= "N").select(
        col("l_orderkey").as("entity_id"),
        (col("l_partkey") % 7).cast("string").as("name"),
        when(col("l_returnflag") === "A", "warn").otherwise("fail")
          .as("status"))),
      totalCheckTypes = 7)
    wh = Profiles.cachedWarehouse(s"$data/bench", li, "l_orderkey",
      "l_linenumber", col("l_suppkey"), Workload.NLoci)
    tr.span("operators.warm") { stats.count(); wh.count() }
  }

  private def copyDir(from: String, to: String): Unit = {
    val dst = java.nio.file.Paths.get(to)
    java.nio.file.Files.createDirectories(dst)
    val ls = java.nio.file.Files.list(java.nio.file.Paths.get(from))
    try ls.forEach(p => java.nio.file.Files.copy(p, dst.resolve(p.getFileName)))
    finally ls.close()
  }

  private def op(name: String): Predicates.Op = Predicates.all
    .find(_.toString == name).getOrElse(
      throw new IllegalArgumentException(s"unknown operator $name"))

  /** The generator's JSON spec as the compiler's AST. Families the
    * reference OR-combines by default are AND-combined here, to match the
    * reference SQL the generator writes.
    */
  def toSpec(j: JValue): QuerySpec = {
    var s = QuerySpec(suppressOldVersions = (j \ "suppress_old").extract[Boolean],
      seqbinCombine = CombineAnd, checksCombine = CombineAnd)
    (j \ "clauses").children.foreach { c => str(c, "family") match {
      case "provenance" => s = s.copy(provenance = s.provenance :+
        FieldClause(str(c, "field"), op(str(c, "op")), str(c, "value"),
          (c \ "text").extract[Boolean]))
      case "allele" => s = s.copy(designations = s.designations :+
        HasAllele(int(c, "locus"), Predicates.Eq, str(c, "value")))
      case "missing" => s = s.copy(designations = s.designations :+
        LocusMissing(int(c, "locus")))
      case "count" => s = s.copy(counts = s.counts :+
        CountClause(op(str(c, "op")), int(c, "n").toLong))
      case "eav" => s = s.copy(eav = s.eav :+ EavClause(str(c, "field"),
        op(str(c, "op")), str(c, "value"), (c \ "negate").extract[Boolean]))
      case "tag" => s = s.copy(tags = s.tags :+ TagClause(
        Some(int(c, "locus")), str(c, "mode") match {
          case "Tagged" => Tagged
          case "Untagged" => Untagged
          case "Complete" => TagComplete
          case "FlaggedR" => TagFlagged(Some("R"))
        }))
      case "status" => s = s.copy(designationStatus = s.designationStatus :+
        StatusClause(Some(int(c, "locus")), str(c, "status")))
      case "seqbin" => s = s.copy(seqbin = s.seqbin :+ SeqbinClause(
        str(c, "field"), op(str(c, "op")), (c \ "value").extract[Double]))
      case "checks" => s = s.copy(assemblyChecks = s.assemblyChecks :+
        AssemblyCheckClause(
          if (str(c, "scope") == "any") AnyCheck else NamedCheck(str(c, "name")),
          str(c, "status")))
    }}
    (j \ "sort") match {
      case JString(f) => s = s.copy(orderBy = Seq(
        SortSpec(f, (j \ "ascending").extract[Boolean])))
      case _ =>
    }
    (j \ "page") match {
      case JInt(p) => s.copy(page = Some(PageSpec(p.toInt, 100)))
      case _ => s
    }
  }

  def run(j: JValue): (String, () => JValue) = {
    val id = int(j, "id")
    str(j, "type") match {
      case name if (j \ "registered") != JNothing => registered(id, name)
      case "search" =>
        val spec = toSpec(j \ "spec")
        val p = tr.span("api.compile")(QueryCompiler.paged(spec, cat))
        val page = tr.collect(p.page)
        val total = tr.span("api.count")(p.total)
        planExtras(id, p.page)
        ("read", () => {
          // the prune report needs a compile of its own: made here, after
          // the timer and outside the op's job attribution
          if (tr.on) QueryCompiler.compileWithPruneReports(spec, cat)._2
            .entities.foreach(r => extra(id, ("files_kept" -> r.filesKept) ~
              ("files_total" -> r.filesTotal)))
          val keys = page.map(_.getAs[Long]("o_orderkey")).toList
          extra(id, "rows_returned" -> keys.size)
          ("page" -> keys) ~ ("total" -> total)
        })
      case "breakdown" =>
        val f = str(j, "field")
        val df = tr.span("api.compile")(QueryCompiler.compile(
          toSpec(j \ "spec"), cat).groupBy(col(f)).count())
        val rows = tr.collect(df)
        planExtras(id, df)
        ("read", () => {
          extra(id, "rows_returned" -> rows.length)
          "groups" -> rows.map(r => JArray(List(JString(r.getString(0)),
            JInt(r.getLong(1))))).toList
        })
      case "profile_lookup" =>
        val des = (j \ "designations").extract[Map[String, List[String]]]
          .map { case (k, v) => k.toInt -> v }
        val df = tr.span("operators.lookup")(
          Profiles.lookupByDesignations(wh, des).select(col("l_orderkey")))
        val rows = tr.collect(df)
        planExtras(id, df)
        ("read", () => keysOf(id, rows))
      case "matching_profiles" =>
        val target = tr.span("operators.target")(wh
          .filter(col("l_orderkey") === int(j, "isolate")).select("profile")
          .head().getSeq[String](0))
        val df = tr.span("operators.matching")(Profiles.matchingProfiles(
          wh, target, Workload.NLoci, int(j, "threshold"))
          .select(col("l_orderkey")))
        val rows = tr.collect(df)
        planExtras(id, df)
        ("read", () => keysOf(id, rows))
    }
  }

  private def keysOf(id: Int, rows: Array[Row]): JValue = {
    extra(id, "rows_returned" -> rows.length)
    "keys" -> rows.map(_.getLong(0)).sorted.toList
  }
}

/** Ingest beside search: delta batches pass the exact and near-dup gates and
  * append to persisted MinHash and IVF indexes that reads query meanwhile.
  */
final class CorpusIngest(spark: SparkSession, data: String, tr: Tracer)
    extends Workload(spark, data, tr) {
  private val ShingleN = 2
  private val K = 64
  private val Bands = 16
  private val MaxBucket = 1000
  private val MinJaccard = 0.1
  private val Nlist = 16
  private var dir: String = _
  private var baseDocs, baseVecs, deltaDocs, deltaVecs, emb: DataFrame = _
  private val live = mutable.Set.empty[Long]
  private val admittedAll = mutable.ArrayBuffer.empty[Long]

  private def mh = s"$dir/index/mh"
  private def ivf = s"$dir/index/ivf"
  private def corpus = s"$dir/corpus"

  def setup(d: String): Unit = {
    dir = d
    warm(Seq("documents", "embeddings"))
    val docs = Tables.load(spark, data, "documents")
    emb = Tables.load(spark, data, "embeddings")
    val base = spark.read.parquet(s"$data/ingest_base.parquet")
    baseDocs = docs.join(base, "doc_id").select("doc_id", "text")
    baseVecs = emb.join(base.withColumnRenamed("doc_id", "vec_id"), "vec_id")
      .select("vec_id", "embedding")
    deltaDocs = spark.read.parquet(s"$data/ingest_docs.parquet").cache()
    deltaVecs = spark.read.parquet(s"$data/ingest_vecs.parquet").cache()
    tr.span("pipeline.build") {
      IndexStore.saveMinhash(baseDocs, "doc_id", "text", ShingleN, K, Bands,
        MaxBucket, mh, Dedup.portableShingleHashes)
      IndexStore.saveIvf(baseVecs, "vec_id", "embedding", Nlist, ivf)
      baseDocs.write.parquet(corpus)
      deltaDocs.count(); deltaVecs.count()
    }
    live.clear(); admittedAll.clear()
    live ++= baseDocs.select("doc_id").collect().map(_.getLong(0))
  }

  def run(j: JValue): (String, () => JValue) = {
    val id = int(j, "id")
    str(j, "type") match {
      case "write" =>
        val delta = deltaDocs.filter(col("batch") === int(j, "batch"))
        val first = tr.span("streaming.first_seen")(
          graft.streaming.StreamDedup.firstSeenByContent(delta,
            Seq(col("text")), "arrival", "doc_id")
            .select("first_id").collect().map(_.getLong(0)))
        val survivors = delta.filter(col("doc_id").isin(first.toIndexedSeq: _*))
          .select("doc_id", "text")
        val admitted = tr.span("pipeline.verdict")(IndexStore.queryMinhash(
          spark, mh, survivors, "doc_id", "text", ShingleN, K, Bands,
          MinJaccard, Dedup.portableShingleHashes)
          .filter(!col("is_dup")).select("doc_id").collect().map(_.getLong(0)))
        val adm = delta.filter(col("doc_id").isin(admitted.toIndexedSeq: _*))
          .select("doc_id", "text")
        tr.span("pipeline.append")(IndexStore.appendMinhash(adm, "doc_id",
          "text", ShingleN, K, Bands, MaxBucket, mh,
          Dedup.portableShingleHashes))
        tr.span("pipeline.ivf")(graft.streaming.IndexStream.appendBatch(
          deltaVecs.filter(col("vec_id").isin(admitted.toIndexedSeq: _*))
            .select("vec_id", "embedding"), "vec_id", "embedding", ivf))
        tr.span("sources.append")(adm.write.mode("append").parquet(corpus))
        live ++= admitted
        admittedAll ++= admitted
        ("write", () => {
          val nDelta = delta.count()
          extra(id, ("delta" -> nDelta) ~ ("admitted" -> admitted.length) ~
            indexSize())
          ("delta" -> nDelta) ~ ("admitted" -> admitted.sorted.toList)
        })
      case "hybrid_search" =>
        val terms = (j \ "terms").extract[List[String]]
        val docs = spark.read.parquet(corpus)
        val (lex, ann, fused) = tr.span("pipeline.search") {
          val lex = TextAnalysis.rankByScore(TextAnalysis.bm25TopK(docs,
            "doc_id", "text", terms, k = 20), "doc_id", "score", k = 20)
          val q = emb.filter(col("vec_id") === int(j, "query_vec"))
            .select("vec_id", "embedding")
          val ann = IndexStore.queryIvf(spark, ivf, q, "vec_id",
            "embedding", k = 20, nprobe = 4)
            .select(col("neighbor_id").as("doc_id"), col("rank"), col("cos"))
          (lex, ann, TextAnalysis.rrfFuse(Seq("ann" -> ann, "bm25" -> lex),
            "doc_id", k = 10))
        }
        val rows = tr.collect(fused)
        planExtras(id, fused)
        ("read", () => {
          // the two ranked inputs, collected after the timer for the
          // oracle's replay of the fusion
          def ranked(df: DataFrame, cols: String*) =
            df.orderBy("rank").select(cols.map(col): _*).collect()
              .map(r => JArray(r.toSeq.map {
                case v: Long => JInt(v)
                case v: Double => JDouble(v)
              }.toList)).toList
          ("hits" -> rows.sortBy(_.getAs[Long]("fused_rank"))
            .map(_.getAs[Long]("doc_id")).toList) ~
            ("lex" -> ranked(lex, "doc_id")) ~
            ("ann" -> ranked(ann, "doc_id", "cos"))
        })
      case "probe" =>
        import spark.implicits._
        val probe = Seq((int(j, "probe_id").toLong, str(j, "text")))
          .toDF("doc_id", "text")
        val df = tr.span("pipeline.probe")(IndexStore.queryMinhash(spark, mh,
          probe, "doc_id", "text", ShingleN, K, Bands, MinJaccard,
          Dedup.portableShingleHashes))
        val rows = tr.collect(df)
        planExtras(id, df)
        ("read", () => JArray(rows.toList.map(r =>
          ("is_dup" -> r.getAs[Boolean]("is_dup")) ~
            ("best_match_id" -> Option(r.getAs[java.lang.Long]("best_match_id"))
              .map(_.longValue)))))
    }
  }

  private def indexSize(): JObject = {
    val root = java.nio.file.Paths.get(s"$dir/index")
    val files = java.nio.file.Files.walk(root)
    val bytes = try files.filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum() finally files.close()
    val ls = java.nio.file.Files.list(root)
    val versions = try ls.filter(_.getFileName.toString.matches(".*\\.v\\d+"))
      .count() finally ls.close()
    ("index_bytes" -> bytes) ~ ("index_versions" -> versions)
  }

  /** Append == rebuild: a fresh index over base and every admitted delta
    * must equal the index the appends produced; the IVF index must hold
    * exactly the same ids.
    */
  override def finish(): JValue = {
    val adm = deltaDocs.filter(col("doc_id").isin(admittedAll.toSeq: _*))
      .select("doc_id", "text")
    val fresh = s"$dir/verify/mh"
    IndexStore.saveMinhash(baseDocs.unionByName(adm), "doc_id", "text",
      ShingleN, K, Bands, MaxBucket, fresh, Dedup.portableShingleHashes)
    def frames(p: String) = {
      val v = graft.operators.CacheRefresh.resolveLive(spark, p)
      (spark.read.parquet(s"$v/sigs"), spark.read.parquet(s"$v/buckets")
        .withColumn("base_ids", array_sort(col("base_ids"))))
    }
    val (s1, b1) = frames(mh)
    val (s2, b2) = frames(fresh)
    def same(a: DataFrame, b: DataFrame) =
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty
    val ivfIds = IndexStore.loadIvf(spark, ivf)._2
      .select("neighbor_id").collect().map(_.getLong(0)).sorted.toSeq
    val onDisk = indexSize()
    val inputBytes = baseDocs.unionByName(adm)
      .select(sum(length(col("text")))).head().getLong(0) + live.size * 64L * 4
    ("append_equals_rebuild" -> (same(s1, s2) && same(b1, b2))) ~
      ("ivf_ids_match" -> (ivfIds == live.toSeq.sorted)) ~
      ("input_bytes" -> inputBytes) ~ onDisk
  }
}
