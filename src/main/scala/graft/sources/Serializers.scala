package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Sources & sinks mirroring the reference's serializer surface
  * (SURVEY §2.2, dd_core/dataflow/custom_serialize.py).
  */
object Serializers {

  /** `SerializerJsonlines.load` (custom_serialize.py:142): .jsonl →
    * rows with an explicit schema (never infer — at 100 TB schema
    * inference is a full extra pass).
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType,
      maxDatapoints: Option[Int] = None): DataFrame = {
    val df = spark.read.schema(schema).json(path)
    maxDatapoints.fold(df)(df.limit)
  }

  /** `SerializerJsonlines.save` (custom_serialize.py:157). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Sharded training-data export: `df` written as `shard=0..n-1`
    * JSONL directories with DETERMINISTIC shard assignment
    * (`pmod(xxhash64(idCol), n)` — stable across runs, cluster sizes
    * and row order, unlike round-robin repartition), plus a
    * `_MANIFEST.json` at the root recording per-shard row counts and
    * byte sizes.
    *
    * The manifest describes DISK TRUTH: counts come from one cheap
    * line-count pass over the files just written (JSONL = one record
    * per line), never from re-evaluating the input lineage — a
    * non-deterministic upstream (`sample()`, `rand()` filters,
    * shuffle-order-tied `dropDuplicates`) would make a recomputed
    * count disagree with the files and poison every future load.
    *
    * @return (shard, rows, bytes) as written to the manifest
    */
  def writeShardedJsonl(df: DataFrame, idCol: String, outDir: String,
      nShards: Int, shardBy: String = "xxhash64"): Seq[(Int, Long, Long)] = {
    require(nShards > 0, "writeShardedJsonl: nShards must be positive")
    require(!df.columns.contains("shard"),
      "writeShardedJsonl: input already has a 'shard' column — rename " +
        "it first; the export uses 'shard' as its partition key and " +
        "withColumn would silently clobber the caller's data")
    val spark = df.sparkSession
    // shard key: xxhash64 (default — one codegen'd hash, no string
    // materialization) or "md5" (the 32-bit md5-prefix idiom shared
    // with dsirBucket — exactly expressible in DuckDB, which is what
    // puts the placement under the q_shard_manifest driver oracle;
    // both are deterministic functions of the id, so re-exports place
    // identically)
    val key: org.apache.spark.sql.Column = shardBy match {
      case "xxhash64" => xxhash64(col(idCol))
      case "md5" =>
        // null ids coalesce to "" BEFORE hashing: md5(null) is null →
        // pmod null → Hive's default partition dir, whose non-numeric
        // name would NPE the manifest count pass (xxhash64 hashes
        // nulls to its seed, so only this path needs the guard)
        conv(substring(md5(coalesce(col(idCol).cast("string"), lit(""))), 1, 8), 16, 10)
          .cast("long")
      case other => throw new IllegalArgumentException(
        s"writeShardedJsonl: unknown shardBy '$other' (xxhash64|md5)")
    }
    df.withColumn("shard", pmod(key, lit(nShards)).cast("int"))
      .repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").json(outDir)
    import spark.implicits._
    val fs = new org.apache.hadoop.fs.Path(outDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an EMPTY input writes no shard=* directories at all — the glob
    // read below would then throw "Path does not exist" instead of
    // producing the legitimate all-zero manifest. Probe with the
    // FileSystem API first and skip the count pass when nothing was
    // written.
    val anyShardDir = fs
      .globStatus(new org.apache.hadoop.fs.Path(outDir, "shard=*"))
    val counts: Map[Int, Long] =
      if (anyShardDir == null || anyShardDir.isEmpty) Map.empty
      else spark.read.textFile(s"$outDir/shard=*/part-*")
        .select(regexp_extract(input_file_name(), "shard=(\\d+)", 1)
          .cast("int").as("shard"))
        .groupBy("shard").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val entries = (0 until nShards).map { s =>
      val dir = new org.apache.hadoop.fs.Path(outDir, s"shard=$s")
      val bytes =
        if (!fs.exists(dir)) 0L
        else fs.listStatus(dir).filter(st => st.isFile &&
          st.getPath.getName.startsWith("part-")).map(_.getLen).sum
      (s, counts.getOrElse(s, 0L), bytes)
    }
    val json = entries.map { case (s, r, b) =>
      s"""{"shard":$s,"rows":$r,"bytes":$b}""" }
      .mkString("[", ",", "]")
    val out = fs.create(new org.apache.hadoop.fs.Path(outDir, "_MANIFEST.json"), true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    entries
  }

  /** Load a [[writeShardedJsonl]] export, VERIFYING it against its
    * manifest before returning (the checkpoint adoption-guard
    * convention — never train on silently partial data):
    *
    *  - default gate, O(#files): every non-empty manifest shard must
    *    exist with EXACTLY the recorded part-file bytes. This catches
    *    missing shards AND in-place truncation/corruption — which a
    *    row-count under PERMISSIVE JSON parsing would MISS (a torn
    *    last line still yields one all-null row) — at listing cost,
    *    no data scan.
    *  - `recount = true` additionally replays the per-shard row-count
    *    comparison (one full read) for belt-and-braces loads.
    */
  def readShardedJsonl(spark: SparkSession, dir: String,
      schema: StructType, recount: Boolean = false): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mPath = new org.apache.hadoop.fs.Path(dir, "_MANIFEST.json")
    require(fs.exists(mPath), s"readShardedJsonl: no _MANIFEST.json in $dir")
    val manifest: Seq[(Int, Long, Long)] = {
      val in = fs.open(mPath)
      val raw = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // real JSON parse (Jackson ships with Spark) — a regex over the
      // writer's byte layout would silently drop entries on any
      // format evolution instead of erroring
      import scala.jdk.CollectionConverters._
      val tree = new com.fasterxml.jackson.databind.ObjectMapper().readTree(raw)
      require(tree.isArray, s"readShardedJsonl: malformed manifest in $dir")
      tree.elements().asScala.map(n =>
        (n.get("shard").asInt, n.get("rows").asLong, n.get("bytes").asLong))
        .toSeq
    }
    def refuse(problems: Seq[String]): Nothing =
      throw new IllegalStateException(
        s"readShardedJsonl: ${problems.mkString("; ")} in $dir — " +
          "refusing to train on partial data")
    val byteProblems = manifest.filter(_._2 > 0).flatMap { case (s, _, bytes) =>
      val p = new org.apache.hadoop.fs.Path(dir, s"shard=$s")
      if (!fs.exists(p)) Some(s"shard=$s missing")
      else {
        val actual = fs.listStatus(p).filter(st => st.isFile &&
          st.getPath.getName.startsWith("part-")).map(_.getLen).sum
        if (actual != bytes) Some(s"shard=$s has $actual bytes, manifest says $bytes")
        else None
      }
    }
    if (byteProblems.nonEmpty) refuse(byteProblems)
    // an all-zero manifest (legitimate empty export) has no shard=*
    // directories on disk — globbing them would throw, so synthesize
    // the empty result with the same shape (data schema + the shard
    // partition column) instead
    if (manifest.forall(_._2 == 0L))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add("shard", org.apache.spark.sql.types.IntegerType))
    val df = spark.read.schema(schema)
      .option("basePath", dir).json(s"$dir/shard=*")
    if (recount) {
      val actual = df.groupBy("shard").count()
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val expected = manifest.filter(_._2 > 0)
        .map(e => e._1 -> e._2).toMap
      if (actual != expected)
        refuse(Seq(s"shard counts $actual do not match manifest $expected"))
    }
    df
  }

  /** `SerializerTabsepFiles` (custom_serialize.py:187): one row per
    * line, tab-separated columns.
    */
  def readTabsep(spark: SparkSession, path: String, columns: Seq[String],
      maxDatapoints: Option[Int] = None): DataFrame = {
    val lines = spark.read.text(path)
    val parts = split(col("value"), "\t")
    val df = lines.select(columns.zipWithIndex.map { case (c, i) => parts.getItem(i).as(c) }: _*)
    maxDatapoints.fold(df)(df.limit)
  }

  def writeTabsep(df: DataFrame, path: String): Unit =
    df.select(concat_ws("\t", df.columns.map(col): _*).as("value"))
      .write.mode("overwrite").text(path)

  /** `SerializerFiles.load` (custom_serialize.py:258): recursive
    * directory walk filtered by extension, unordered — the reference's
    * two-walk + zip mini-DAG collapses to one binaryFile scan with a
    * glob.
    */
  def readFilesDir(spark: SparkSession, dir: String, extension: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", s"*.$extension")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("length"), col("content"))

  /** `SerializerCoco.load` (custom_serialize.py:582): the reference
    * builds in-memory `img_to_anns` hash indexes (CocoParser:349-375)
    * to pre-join annotations onto images; distributed, that's a real
    * hash aggregation — groupBy(image_id) + sort_array(collect_list)
    * (deterministic order), then a broadcast-friendly equi-join.
    */
  def cocoPreJoin(images: DataFrame, annotations: DataFrame,
      imageIdCol: String = "image_id", annIdCol: String = "id"): DataFrame = {
    val structCols = col(annIdCol) +: annotations.columns
      .filter(c => c != imageIdCol && c != annIdCol).map(col).toSeq
    val anns = annotations
      .groupBy(col(imageIdCol))
      .agg(sort_array(collect_list(struct(structCols: _*))).as("anns"),
        count(lit(1)).as("n_anns"))
    images.join(anns, images("id") === anns(imageIdCol), "left")
      .drop(imageIdCol)
      .withColumn("n_anns", coalesce(col("n_anns"), lit(0L)))
  }

  /** `SerializerPdfDoc.load/split` (custom_serialize.py:674 +
    * pdf_utils.py:406 `PDFStreamer`): one row per PDF page — a
    * binaryFile scan flatMapped through the page splitter. The split
    * runs inside the scan stage (no shuffle); at 100 TB each executor
    * splits its own files.
    */
  def readPdfPages(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readFilesDir(spark, dir, "pdf")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        graft.kernels.Pdf.splitPages(bytes).map(p => (path, p.pageNo, p.text))
      }
      .toDF("path", "page_no", "text")
  }

  /** Positioned-word source — the reference's
    * `PdfPlumberTextDetector` surface (extern/pdftext.py:90-107) as a
    * DataFrame: one row per word with its top-origin display-space
    * box, ready for the geometric pipeline (MatchingService /
    * TextOrderService — q_pdf_reading_order runs exactly this chain).
    * Word extraction runs inside the scan stage — no shuffle, the
    * same 100 TB shape as [[readPdfPages]].
    */
  def readPdfWords(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readFilesDir(spark, dir, "pdf")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        graft.kernels.Pdf.splitPagesWords(bytes).map(w =>
          (path, w.pageNo, w.wordNo, w.text, w.x0, w.top, w.x1, w.bottom))
      }
      .toDF("path", "page_no", "word_no", "text", "x0", "top", "x1", "bottom")
  }

  /** Full `SerializerPdfDoc.load` datapoint parity
    * (custom_serialize.py:646 `make_pdf_page_mapper`): one row per
    * page with `pdf_bytes` a STANDALONE one-page PDF (what the
    * reference's `split` writes to `{prefix}_{page}{suffix}` files),
    * `file_name` that same naming, and `document_id` the
    * deterministic uuid3 of the filename stem. Page re-emission runs
    * inside the scan stage — no shuffle, same 100 TB shape as
    * [[readPdfPages]].
    */
  def readPdfPageDocs(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    readFilesDir(spark, dir, "pdf")
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        val fileName = path.substring(path.lastIndexOf('/') + 1)
        val dot = fileName.lastIndexOf('.')
        val (prefix, suffix) =
          if (dot >= 0) (fileName.substring(0, dot), fileName.substring(dot))
          else (fileName, "")
        val docId = graft.model.Ids.uuid3(prefix)
        graft.kernels.Pdf.emitPages(bytes).map { case (n, pageBytes) =>
          (path, s"${prefix}_$n$suffix", n, pageBytes, docId)
        }
      }
      .toDF("path", "file_name", "page_number", "pdf_bytes", "document_id")
  }

  /** publaynet's category-id → label mapping
    * (dd_datasets/instances/publaynet.py `_CATEGORIES`).
    */
  val PublaynetCategories: Map[Int, String] =
    Map(1 -> "text", 2 -> "title", 3 -> "list", 4 -> "table", 5 -> "figure")

  /** publaynet-style COCO dataset builder
    * (dd_datasets/instances/publaynet.py via SerializerCoco): one COCO
    * json → one row per image with its annotations pre-joined and
    * category ids resolved to layout labels. Schema is explicit (no
    * inference pass); at petabyte scale the annotation side would be
    * parquet, but the COCO-json format is what the reference's
    * builders consume.
    */
  def cocoDataset(spark: SparkSession, cocoJsonPath: String,
      categories: Map[Int, String] = PublaynetCategories): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("images", ArrayType(StructType(Seq(
        StructField("id", LongType), StructField("file_name", StringType),
        StructField("width", IntegerType), StructField("height", IntegerType))))),
      StructField("annotations", ArrayType(StructType(Seq(
        StructField("id", LongType), StructField("image_id", LongType),
        StructField("category_id", IntegerType),
        StructField("bbox", ArrayType(DoubleType))))))))
    val root = spark.read.option("multiLine", "true").schema(schema).json(cocoJsonPath)
    val images = root.select(explode(col("images")).as("img")).select("img.*")
    val anns = root.select(explode(col("annotations")).as("a")).select("a.*")
      .withColumn("category",
        coalesce(element_at(typedLit(categories), col("category_id")), lit("unk")))
    cocoPreJoin(images, anns)
  }

  /** PubTabNet's public HTML-reassembly convention (the dataset stores
    * `html.structure.tokens` — tag tokens with spanned cells split as
    * `<td`, `colspan="2"`, `>` — and per-cell `tokens`): each cell's
    * tokens are inserted after its opening `<td>`/`>` token. Mirrors
    * dd_core/mapper/pubstruct.py's consumption of the same fields.
    */
  def pubTabNetHtml(structure: Seq[String], cells: Seq[Seq[String]]): String = {
    val sb = new StringBuilder("<table>")
    var ci = 0
    for (tok <- structure) {
      sb.append(tok)
      if (tok == "<td>" || tok == ">") {
        if (ci < cells.length && cells(ci) != null) cells(ci).foreach(sb.append)
        ci += 1
      }
    }
    sb.append("</table>")
    sb.toString
  }

  /** pubtabnet-style jsonl dataset (dd_datasets/instances/pubtabnet.py
    * via SerializerJsonlines): one row per table image with the
    * reconstructed HTML — feeds the TEDS metric directly.
    */
  def pubTabNetDataset(spark: SparkSession, jsonlPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("filename", StringType),
      StructField("split", StringType),
      StructField("html", StructType(Seq(
        StructField("structure", StructType(Seq(
          StructField("tokens", ArrayType(StringType))))),
        StructField("cells", ArrayType(StructType(Seq(
          StructField("tokens", ArrayType(StringType)))))))))))
    spark.read.schema(schema).json(jsonlPath)
      .select(col("filename"), col("split"),
        col("html.structure.tokens").as("structure"),
        col("html.cells.tokens").as("cells"))
      .as[(String, String, Seq[String], Seq[Seq[String]])]
      .map { case (f, s, structure, cells) =>
        (f, s, pubTabNetHtml(
          Option(structure).getOrElse(Nil),
          Option(cells).getOrElse(Nil)))
      }
      .toDF("filename", "split", "html")
  }

  /** FUNSD / XFund annotation schema (dd_datasets/instances/funsd.py,
    * xfund.py; consumed by dd_core/mapper/xfundstruct.py:44
    * `xfund_to_image`). FUNSD stores entities under `form`, XFund under
    * `document` with an `img`/`uid`/`lang` envelope — one schema reads
    * both.
    */
  val FunsdSchema: StructType = {
    import org.apache.spark.sql.types._
    val wordStruct = StructType(Seq(
      StructField("text", StringType),
      StructField("box", ArrayType(DoubleType))))
    val entityStruct = StructType(Seq(
      StructField("id", LongType),
      StructField("label", StringType),
      StructField("box", ArrayType(DoubleType)),
      StructField("words", ArrayType(wordStruct)),
      StructField("linking", ArrayType(ArrayType(LongType)))))
    StructType(Seq(
      StructField("form", ArrayType(entityStruct)),
      StructField("document", ArrayType(entityStruct)),
      StructField("img", StructType(Seq(
        StructField("fname", StringType),
        StructField("width", IntegerType), StructField("height", IntegerType)))),
      StructField("uid", StringType),
      StructField("lang", StringType)))
  }

  /** funsd.py:194-198 `token_class_names_mapping` — raw labels
    * normalize to the four token classes; anything else is `other`.
    */
  val FunsdTokenClasses: Map[String, String] = Map(
    "other" -> "other", "question" -> "question",
    "answer" -> "answer", "header" -> "header")

  /** One row per WORD with its token class, BIO tag, composed token
    * tag, geometry, and linked entity ids — the flat columnar form of
    * `xfund_to_image`'s Image annotations (xfundstruct.py:106-190):
    * class `other` → tag O, first word of an entity → B, rest → I;
    * token_tag = `B-<class>` / `I-<class>` / `O`; `linking` pairs
    * resolve to the partner entity ids. Pure Column expressions —
    * schema'd parse + two explodes, no UDFs, fully codegen'd.
    *
    * Input: a DataFrame with the [[FunsdSchema]] columns (from
    * [[readFunsd]] or an in-flight `from_json`).
    */
  def funsdTokenRows(parsed: DataFrame): DataFrame = {
    val withFile =
      if (parsed.columns.contains("file_name")) parsed
      else parsed.withColumn("file_name", coalesce(col("img.fname"), lit("")))
    val entities = withFile
      .select(col("file_name"), col("lang"),
        explode(coalesce(col("form"), col("document"))).as("e"))
      .select(col("file_name"), col("lang"),
        col("e.id").as("entity_id"),
        coalesce(element_at(typedLit(FunsdTokenClasses), lower(col("e.label"))),
          lit("other")).as("token_class"),
        col("e.box").as("entity_box"),
        col("e.words").as("words"),
        // partners of every (a, b) linking pair this entity is in
        transform(
          filter(coalesce(col("e.linking"), array()),
            p => element_at(p, 1) === col("e.id") || element_at(p, 2) === col("e.id")),
          p => when(element_at(p, 1) === col("e.id"), element_at(p, 2))
            .otherwise(element_at(p, 1))).as("linked_entity_ids"))
    entities
      .select(col("file_name"), col("lang"), col("entity_id"), col("token_class"),
        col("entity_box"), col("linked_entity_ids"),
        posexplode(col("words")).as(Seq("word_idx", "w")))
      .withColumn("tag",
        when(col("token_class") === "other", lit("O"))
          .when(col("word_idx") === 0, lit("B")).otherwise(lit("I")))
      .withColumn("token_tag",
        when(col("tag") === "O", lit("O"))
          .otherwise(concat(col("tag"), lit("-"), col("token_class"))))
      .select(col("file_name"), col("lang"), col("entity_id"), col("word_idx"),
        col("w.text").as("text"), col("w.box").as("box"),
        col("token_class"), col("tag"), col("token_tag"),
        col("entity_box"), col("linked_entity_ids"))
  }

  /** FUNSD/XFund loader → word-level token-classification rows. The
    * datasets that populate the `Word.tokenClass` slot the LM services
    * reserve.
    *
    * `multiLine = true` (FUNSD: one pretty-printed json PER FILE)
    * parses exactly ONE record per file — reading a multi-record jsonl
    * that way silently drops every record after the first, so the
    * XFund registry entry passes `multiLine = false` (jsonl: one
    * record per line).
    */
  def readFunsd(spark: SparkSession, path: String,
      multiLine: Boolean = true): DataFrame = {
    val raw = spark.read.option("multiLine", multiLine.toString)
      .schema(FunsdSchema).json(path)
      .withColumn("file_name",
        coalesce(col("img.fname"),
          element_at(split(input_file_name(), "/"), -1)))
    funsdTokenRows(raw)
  }

  /** rvl-cdip's 16 document-type labels in `_INIT_CATEGORIES` order
    * (dd_datasets/instances/rvlcdip.py:73-90; ids 1..16 like the
    * reference's `label + 1`).
    */
  val RvlcdipCategories: Map[Int, String] = Seq(
    "letter", "form", "email", "handwritten", "advertisement",
    "scientific_report", "scientific_publication", "specification",
    "file_folder", "news_article", "budget", "invoice", "presentation",
    "questionnaire", "resume", "memo").zipWithIndex.map { case (n, i) => (i + 1) -> n }.toMap

  /** rvl-cdip loader (instances/rvlcdip.py:148): tab/space-separated
    * `location label` lines → one classification row per image with
    * the document type resolved (the reference's summary
    * `DOCUMENT_TYPE` sub-category).
    */
  def readRvlcdip(spark: SparkSession, path: String): DataFrame = {
    val parts = split(trim(col("value")), "\\s+")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(parts.getItem(0).as("location"),
        (parts.getItem(1).cast("int") + 1).as("category_id"))
      .withColumn("file_name", element_at(split(col("location"), "/"), -1))
      .withColumn("document_type",
        coalesce(element_at(typedLit(RvlcdipCategories), col("category_id")), lit("unk")))
  }

  /** Prodigy-export loader (instances/layouttest.py:123 via
    * dd_core/mapper/prodigystruct.py:34 `prodigy_to_image`): jsonl of
    * annotation tasks; only `answer == "accept"` rows survive (the
    * reference's MapData filter), file name resolves meta.file → id →
    * text → basename(path), and each span's box comes from corner
    * points 0 (upper-left) and 2 (lower-right), clamped to the image.
    */
  def readProdigy(spark: SparkSession, path: String,
      acceptOnly: Boolean = true): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("answer", StringType),
      StructField("id", StringType),
      StructField("text", StringType),
      StructField("path", StringType),
      StructField("image_id", StringType),
      StructField("width", DoubleType),
      StructField("height", DoubleType),
      StructField("meta", StructType(Seq(StructField("file", StringType)))),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("label", StringType),
        StructField("id", StringType),
        StructField("annotation_id", StringType),
        StructField("score", DoubleType),
        StructField("points", ArrayType(ArrayType(DoubleType)))))))))
    val raw = spark.read.schema(schema).json(path)
    val accepted = if (acceptOnly) raw.filter(col("answer") === "accept") else raw
    def clampX(c: org.apache.spark.sql.Column) =
      when(col("width").isNotNull, least(greatest(c, lit(0.0)), col("width")))
        .otherwise(greatest(c, lit(0.0)))
    def clampY(c: org.apache.spark.sql.Column) =
      when(col("height").isNotNull, least(greatest(c, lit(0.0)), col("height")))
        .otherwise(greatest(c, lit(0.0)))
    accepted
      .withColumn("file_name", coalesce(col("meta.file"), col("id"), col("text"),
        element_at(split(col("path"), "/"), -1), lit("")))
      .select(col("file_name"), col("image_id"), col("width"), col("height"),
        explode(col("spans")).as("s"))
      .select(col("file_name"), col("image_id"), col("width"), col("height"),
        col("s.label").as("label"),
        coalesce(col("s.annotation_id"), col("s.id")).as("span_id"),
        col("s.score").as("score"),
        clampX(element_at(element_at(col("s.points"), 1), 1)).as("ulx"),
        clampY(element_at(element_at(col("s.points"), 1), 2)).as("uly"),
        clampX(element_at(element_at(col("s.points"), 3), 1)).as("lrx"),
        clampY(element_at(element_at(col("s.points"), 3), 2)).as("lry"))
  }

  /** PASCAL-VOC XML loader (instances/iiitar13k.py:150 +
    * pubtables1m.py:153, both `SerializerFiles.load(".xml")` →
    * xsl-transformed dict → `pascal_voc_dict_to_image`): one row per
    * `<object>` with the annotation's filename and the bndbox. The
    * reference's XSLT + literal_eval round-trip collapses to Spark's
    * native XML source (rowTag=annotation) with an explicit schema —
    * no inference pass, executor-side parse.
    *
    * @param categoryNameMapping label normalization, e.g. pubtables1m's
    *   "table spanning cell" → "spanning_cell" (pascalstruct.py's
    *   category_name_mapping)
    */
  def readPascalVoc(spark: SparkSession, dir: String,
      categoryNameMapping: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("filename", StringType),
      StructField("size", StructType(Seq(
        StructField("width", DoubleType), StructField("height", DoubleType)))),
      StructField("object", ArrayType(StructType(Seq(
        StructField("name", StringType),
        StructField("bndbox", StructType(Seq(
          StructField("xmin", DoubleType), StructField("ymin", DoubleType),
          StructField("xmax", DoubleType), StructField("ymax", DoubleType))))))))))
    val mapped =
      if (categoryNameMapping.isEmpty) col("o.name")
      else coalesce(element_at(typedLit(categoryNameMapping), col("o.name")), col("o.name"))
    spark.read.format("xml")
      .option("rowTag", "annotation")
      .schema(schema)
      .load(s"$dir/*.xml")
      .select(col("filename").as("file_name"),
        col("size.width").as("width"), col("size.height").as("height"),
        explode(col("object")).as("o"))
      .select(col("file_name"), col("width"), col("height"),
        mapped.as("label"),
        col("o.bndbox.xmin").as("ulx"), col("o.bndbox.ymin").as("uly"),
        col("o.bndbox.xmax").as("lrx"), col("o.bndbox.ymax").as("lry"))
  }

  /** pubtables1m's raw→normalized label map
    * (instances/pubtables1m.py `_map_category_names` analogue).
    */
  val Pubtables1mNameMapping: Map[String, String] = Map(
    "table" -> "table", "table column" -> "column", "table row" -> "row",
    "table column header" -> "column_header",
    "table projected row header" -> "projected_row_header",
    "table spanning cell" -> "spanning_cell")

  /** fintabnet-style jsonl (instances/fintabnet.py:196 via
    * `pub_to_image(is_fintabnet=True)`): same html.structure/cells
    * fields as pubtabnet — HTML reassembled identically — plus the
    * table's PDF-coordinate bbox and ids passed through. (The
    * reference's PDF y-flip needs the page image; coordinates are
    * passed through raw here, documented.)
    */
  def finTabNetDataset(spark: SparkSession, jsonlPath: String): DataFrame = {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val schema = StructType(Seq(
      StructField("filename", StringType),
      StructField("table_id", LongType),
      StructField("split", StringType),
      StructField("bbox", ArrayType(DoubleType)),
      StructField("html", StructType(Seq(
        StructField("structure", StructType(Seq(
          StructField("tokens", ArrayType(StringType))))),
        StructField("cells", ArrayType(StructType(Seq(
          StructField("tokens", ArrayType(StringType)))))))))))
    spark.read.schema(schema).json(jsonlPath)
      .select(col("filename"), col("table_id"), col("split"), col("bbox"),
        col("html.structure.tokens").as("structure"),
        col("html.cells.tokens").as("cells"))
      .as[(String, Long, String, Seq[Double], Seq[String], Seq[Seq[String]])]
      .map { case (f, tid, s, bbox, structure, cells) =>
        (f, tid, s, bbox, pubTabNetHtml(
          Option(structure).getOrElse(Nil), Option(cells).getOrElse(Nil)))
      }
      .toDF("filename", "table_id", "split", "bbox", "html")
  }

  /** Dataset registry (dd_datasets/base.py:46 `DatasetBase` +
    * `MergeDataset` :179): named input tables over an sf dir;
    * merge = unionByName.
    */
  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "documents" -> ((s, dir) => s.read.parquet(s"$dir/documents.parquet")),
    "embeddings" -> ((s, dir) => s.read.parquet(s"$dir/embeddings.parquet")),
    "events" -> ((s, dir) => s.read.parquet(s"$dir/events.parquet")),
    "turns" -> ((s, dir) => Turns.synth(s, dir).toDF())
  )

  def dataset(name: String)(spark: SparkSession, sfDir: String): DataFrame =
    registry(name)(spark, sfDir)

  /** doclaynet categories in `_INIT_CATEGORIES` order
    * (dd_datasets/instances/doclaynet.py:83-94, ids assigned 1..n).
    */
  val DoclaynetCategories: Map[Int, String] = Map(
    1 -> "caption", 2 -> "footnote", 3 -> "formula", 4 -> "list",
    5 -> "page_footer", 6 -> "page_header", 7 -> "figure",
    8 -> "section_header", 9 -> "table", 10 -> "text", 11 -> "title")

  /** doclaynet → publaynet coarse relabel (`_SUB_CATEGORIES`,
    * doclaynet.py:96-108) — the `cat_to_sub_cat` remap as a Column.
    */
  val DoclaynetToPublaynet: Map[String, String] = Map(
    "caption" -> "text", "footnote" -> "text", "formula" -> "text",
    "list" -> "list", "page_footer" -> "text", "page_header" -> "title",
    "figure" -> "figure", "section_header" -> "title", "table" -> "table",
    "text" -> "text", "title" -> "title")

  /** Path-keyed dataset instances (the reference's `dataset_registry`
    * over dd_datasets/instances/): builders that take a data path
    * instead of an sf dir. The COCO-format members (publaynet,
    * doclaynet) share [[cocoDataset]] with their own category maps —
    * the reference's builders differ the same way.
    */
  val instanceRegistry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "publaynet" -> ((s, path) => cocoDataset(s, path)),
    "doclaynet" -> ((s, path) => cocoDataset(s, path, DoclaynetCategories)
      .withColumn("anns", transform(col("anns"), a => a.withField("publaynet_cat",
        coalesce(element_at(typedLit(DoclaynetToPublaynet), a.getField("category")), lit("text")))))),
    "pdf_pages" -> ((s, path) => readPdfPages(s, path)),
    "pdf_page_docs" -> ((s, path) => readPdfPageDocs(s, path)),
    "pubtabnet" -> ((s, path) => pubTabNetDataset(s, path)),
    // token-classification datasets (funsd.py / xfund.py) — same
    // loader/schema; funsd = one json per file, xfund = jsonl
    "funsd" -> ((s, path) => readFunsd(s, path, multiLine = true)),
    "xfund" -> ((s, path) => readFunsd(s, path, multiLine = false)),
    // document-type classification (rvlcdip.py)
    "rvl-cdip" -> ((s, path) => readRvlcdip(s, path)),
    // prodigy-export layout sample (layouttest.py)
    "layouttest" -> ((s, path) => readProdigy(s, path)),
    // PASCAL-VOC XML family (iiitar13k.py, pubtables1m.py)
    "iiitar13k" -> ((s, path) => readPascalVoc(s, path)),
    "pubtables1m" -> ((s, path) => readPascalVoc(s, path, Pubtables1mNameMapping)),
    // pubtabnet-format tables with fintabnet extras (fintabnet.py)
    "fintabnet" -> ((s, path) => finTabNetDataset(s, path))
  )

  def mergeDatasets(dfs: Seq[DataFrame]): DataFrame =
    dfs.reduce(_.unionByName(_))
}
