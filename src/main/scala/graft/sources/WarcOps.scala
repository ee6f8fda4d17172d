package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.CorpusOps

/** WARC (ISO 28500) container parsing — the entry format of every real
  * crawl corpus (Common Crawl ships ~64k WARC files per monthly crawl;
  * a pipeline that starts "from HTML" actually starts from WARC).
  *
  * Production shape at 100 TB: WARC files are independently-readable
  * concatenated record streams (~1 GB each; Common Crawl ships them as
  * warc.gz — ONE GZIP MEMBER PER RECORD, members concatenated);
  * `spark.read.format("binaryFile")` yields one row per file and
  * [[WarcOps.parseWarcBlobs]] / [[WarcOps.parseWarcBlobsGz]] flat-map
  * each blob into records — per-file sequential parse (the format is
  * a stream; records locate only via member boundaries +
  * Content-Length), parallelism ACROSS files, zero shuffle before the
  * first relational operator. The fixture gates synthesize REAL WARC
  * bytes — plain AND genuine per-record gzip members — from document
  * arithmetic (the e_multimodal_png discipline) and run the same
  * parsers.
  *
  * The parser is strict: it honors Content-Length byte counts rather
  * than splitting on blank lines — the synthesized payloads embed a
  * literal CRLFCRLF and the text "WARC/1.0" precisely so a naive
  * delimiter splitter fails the gate.
  */
object WarcOps {
  type Q = (SparkSession, String) => DataFrame

  /** One parsed WARC record. `n_headers` counts actual header LINES
    * (repeated fields included — ISO 28500 allows them); the named
    * fields carry each header's FIRST occurrence.
    */
  final case class WarcRecord(
      warc_file: Long,
      warc_type: String,
      record_id: String,
      target_uri: String,
      n_headers: Int,
      payload: String)

  /** Parse one WARC blob (a full file's bytes) into records. Strict:
    * every record must open with `WARC/1.0`, carry a parseable
    * Content-Length, and close with CRLFCRLF — a torn file fails
    * loudly, it does not silently yield partial records.
    */
  def parseRecords(warcFile: Long, blob: Array[Byte]): Seq[WarcRecord] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[WarcRecord]
    var pos = 0
    def line(): String = {
      val start = pos
      while (pos + 1 < blob.length &&
        !(blob(pos) == '\r' && blob(pos + 1) == '\n')) pos += 1
      require(pos + 1 < blob.length, s"unterminated header line at $start")
      val s = new String(blob, start, pos - start, "UTF-8")
      pos += 2
      s
    }
    while (pos < blob.length) {
      val version = line()
      require(version == "WARC/1.0", s"bad WARC version line: '$version'")
      // headers accumulate as a Seq, NOT a name-keyed map: ISO 28500
      // allows repeated fields (e.g. several WARC-Concurrent-To), and
      // a map would silently collapse them — later values overwriting
      // earlier ones and n_headers undercounting actual header lines.
      val headers =
        scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        require(i > 0, s"malformed WARC header: '$h'")
        headers += ((h.substring(0, i).trim, h.substring(i + 1).trim))
        h = line()
      }
      def first(name: String): Option[String] =
        headers.collectFirst { case (n, v) if n == name => v }
      val cl = first("Content-Length")
        .getOrElse(sys.error("missing Content-Length")).toInt
      require(pos + cl + 4 <= blob.length, "payload exceeds blob")
      val payload = new String(blob, pos, cl, "UTF-8")
      pos += cl
      require(blob(pos) == '\r' && blob(pos + 1) == '\n' &&
        blob(pos + 2) == '\r' && blob(pos + 3) == '\n',
        s"record at $pos not closed by CRLFCRLF")
      pos += 4
      out += WarcRecord(warcFile,
        first("WARC-Type").getOrElse(""),
        first("WARC-Record-ID").getOrElse(""),
        first("WARC-Target-URI").getOrElse(""),
        headers.size, payload)
    }
    out.toSeq
  }

  /** Flat-map a (warc_file, blob BINARY) frame into records — the
    * per-file codec step (the honest non-relational seam, like the PNG
    * decode): record boundaries exist only as byte offsets, so this
    * cannot be a Column expression; everything downstream is.
    */
  def parseWarcBlobs(files: DataFrame): Dataset[WarcRecord] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("warc_file").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (f, b) => parseRecords(f, b) }
  }

  /** Synthesize REAL WARC file blobs from the documents table, pure
    * column arithmetic: per doc one `response` record whose payload is
    * an HTTP/1.1 response (status 200, or 404 when doc_id % 4 = 1)
    * carrying the [[CorpusOps.synthHtml]] page, plus a trailing
    * CRLFCRLF + `<!-- WARC/1.0 trap -->` INSIDE the counted payload —
    * the naive-splitter trap. Records group into 16 files (warcinfo
    * record first, then responses in doc_id order).
    */
  def synthWarcFiles(docs: DataFrame): DataFrame =
    synthRecordFrame(docs)
      .groupBy("warc_file")
      .agg(concat(lit(WarcInfo),
        array_join(transform(
          array_sort(collect_list(struct(col("doc_id"), col("rec")))),
          x => x.getField("rec")), "")).as("blob"))

  /** Per-record frame (warc_file, doc_id, rec) — the record arithmetic
    * shared by the plain and gz containers.
    */
  private def synthRecordFrame(docs: DataFrame): DataFrame = {
    val crlf = "\r\n"
    val status = when(pmod(col("doc_id"), lit(4L)) === 1, lit("404 Not Found"))
      .otherwise(lit("200 OK"))
    val html = concat(
      CorpusOps.synthHtml(col("text"), col("doc_id")),
      lit(crlf + crlf + "<!-- WARC/1.0 trap -->"))
    val http = concat(
      lit("HTTP/1.1 "), status, lit(crlf),
      lit("Content-Type: text/html" + crlf + crlf),
      html)
    val uri = concat(lit("https://site"), pmod(col("doc_id"), lit(7L)),
      lit(".example.org/doc/"), col("doc_id"))
    val rec = concat(
      lit("WARC/1.0" + crlf),
      lit("WARC-Type: response" + crlf),
      concat(lit("WARC-Record-ID: <urn:graft:"), col("doc_id"),
        lit(">" + crlf)),
      concat(lit("WARC-Target-URI: "), uri, lit(crlf)),
      lit("WARC-Date: 2026-01-01T00:00:00Z" + crlf),
      lit("Content-Type: application/http; msgtype=response" + crlf),
      concat(lit("Content-Length: "), octet_length(http).cast("string"),
        lit(crlf + crlf)),
      http, lit(crlf + crlf))
    docs
      .select(pmod(col("doc_id"), lit(16L)).as("warc_file"),
        col("doc_id"), rec.as("rec"))
  }

  private val WarcInfo: String = {
    val crlf = "\r\n"
    val info = "graft-crawl"
    s"WARC/1.0${crlf}WARC-Type: warcinfo${crlf}" +
      s"Content-Length: ${info.getBytes("UTF-8").length}$crlf$crlf$info$crlf$crlf"
  }

  // ------------------------------------------------------------------
  // Gzip-member framing — the ACTUAL Common Crawl container: each WARC
  // record is its own gzip member, members concatenated into the file
  // (warc.gz). Record-level random access needs only member offsets;
  // a reader positioned at any member boundary is self-synchronizing.
  // ------------------------------------------------------------------

  /** One gzip member framing exactly `data` (RFC 1952). */
  private[graft] def gzipMember(data: Array[Byte]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream(data.length / 2 + 64)
    val gz = new java.util.zip.GZIPOutputStream(bos)
    try gz.write(data) finally gz.close()
    bos.toByteArray
  }

  /** Split a concatenated-gzip-member blob into the decompressed
    * members, STRICTLY: magic/method checked per member, optional
    * header fields (FEXTRA/FNAME/FCOMMENT/FHCRC) skipped per RFC 1952,
    * the deflate stream inflated with raw `Inflater`, and the 8-byte
    * trailer's CRC32 + ISIZE verified against the inflated bytes. A
    * torn member (header, deflate body, or trailer) and a corrupted
    * member both fail loudly — the [[parseRecords]] discipline at the
    * compression layer.
    */
  private[graft] def gunzipMembers(blob: Array[Byte]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    var pos = 0
    def u8(i: Int): Int = blob(i) & 0xff
    def le16(i: Int): Int = u8(i) | (u8(i + 1) << 8)
    def le32(i: Int): Long = (u8(i).toLong | (u8(i + 1).toLong << 8) |
      (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24)) & 0xffffffffL
    while (pos < blob.length) {
      require(pos + 10 <= blob.length, s"torn gzip member header at $pos")
      require(u8(pos) == 0x1f && u8(pos + 1) == 0x8b,
        s"bad gzip magic at $pos")
      require(u8(pos + 2) == 8, s"unsupported gzip method at $pos")
      val flg = u8(pos + 3)
      var p = pos + 10
      if ((flg & 4) != 0) { // FEXTRA
        require(p + 2 <= blob.length, "torn FEXTRA length")
        val xlen = le16(p); p += 2 + xlen
      }
      def skipZeroTerminated(): Unit = {
        while (p < blob.length && blob(p) != 0) p += 1
        require(p < blob.length, "torn zero-terminated gzip header field")
        p += 1
      }
      if ((flg & 8) != 0) skipZeroTerminated()  // FNAME
      if ((flg & 16) != 0) skipZeroTerminated() // FCOMMENT
      if ((flg & 2) != 0) p += 2                // FHCRC
      require(p <= blob.length, "torn gzip member header fields")
      val inf = new java.util.zip.Inflater(true)
      inf.setInput(blob, p, blob.length - p)
      val buf = new Array[Byte](64 * 1024)
      val body = new java.io.ByteArrayOutputStream(64 * 1024)
      try {
        while (!inf.finished()) {
          val n = inf.inflate(buf)
          if (n > 0) body.write(buf, 0, n)
          else {
            require(!inf.needsInput(),
              s"torn gzip deflate stream in member at $pos")
            require(!inf.needsDictionary(),
              "preset-dictionary gzip member unsupported")
          }
        }
        val consumed = (blob.length - p) - inf.getRemaining
        val tp = p + consumed
        require(tp + 8 <= blob.length, s"torn gzip trailer at $tp")
        val data = body.toByteArray
        val crc = new java.util.zip.CRC32()
        crc.update(data)
        require(le32(tp) == crc.getValue,
          s"gzip CRC mismatch in member at $pos")
        require(le32(tp + 4) == (data.length.toLong & 0xffffffffL),
          s"gzip ISIZE mismatch in member at $pos")
        out += data
        pos = tp + 8
      } finally inf.end()
    }
    out.toSeq
  }

  /** Parse a warc.gz blob: one WARC record per gzip member (the
    * Common Crawl convention — record-level random access depends on
    * it), each member's decompressed bytes framed by the SAME strict
    * Content-Length parser as the plain path.
    */
  def parseRecordsGz(warcFile: Long, blob: Array[Byte]): Seq[WarcRecord] =
    gunzipMembers(blob).zipWithIndex.map { case (m, i) =>
      val rs = parseRecords(warcFile, m)
      require(rs.length == 1,
        s"gzip member $i must frame exactly one WARC record, got ${rs.length}")
      rs.head
    }

  /** The gz twin of [[parseWarcBlobs]] — same per-file codec seam. */
  def parseWarcBlobsGz(files: DataFrame): Dataset[WarcRecord] = {
    val spark = files.sparkSession
    import spark.implicits._
    files.select(col("warc_file").cast("long"), col("blob").cast("binary"))
      .as[(Long, Array[Byte])]
      .flatMap { case (f, b) => parseRecordsGz(f, b) }
  }

  /** GZ twin of [[synthWarcFiles]]: the SAME records, but each framed
    * as its own gzip member (warcinfo first), members concatenated per
    * file — genuine warc.gz bytes, compressed in the per-file group
    * (the codec seam; compression is not a Column expression).
    */
  def synthWarcFilesGz(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // gzip must wrap each RECORD, so the per-file concat happens
    // AFTER compression, in the per-file group
    synthRecordFrame(docs).as[(Long, Long, String)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val members = it.toSeq.sortBy(_._2).map(_._3)
        val bos = new java.io.ByteArrayOutputStream()
        bos.write(gzipMember(WarcInfo.getBytes("UTF-8")))
        members.foreach(r => bos.write(gzipMember(r.getBytes("UTF-8"))))
        (f, bos.toByteArray)
      }
      .toDF("warc_file", "blob")
  }

  /** Gate row: synthesize → parse → keep HTTP 200 responses → extract
    * the page text → round-trip contract. The oracle states the
    * CONTRACT in document arithmetic (md5(text) recovered byte-for-byte
    * through WARC framing + HTTP head + HTML extraction; header count
    * and status are synthesis constants), so a parser that mis-frames a
    * single record, trips on the embedded CRLFCRLF/`WARC/1.0` trap, or
    * miscounts Content-Length turns the row red.
    */
  private val warcParse: Q = (spark, dir) =>
    warcParseOver(parseWarcBlobs(
      synthWarcFiles(Tables.load(spark, dir, "documents"))).toDF())

  /** gz twin: the same contract through genuine warc.gz bytes — one
    * gzip member per record, CRC-verified gunzip, then the identical
    * strict framing. Same oracle as e_warc_parse: compression must be
    * invisible in the parsed result.
    */
  private val warcParseGz: Q = (spark, dir) =>
    warcParseOver(parseWarcBlobsGz(
      synthWarcFilesGz(Tables.load(spark, dir, "documents"))).toDF())

  private def warcParseOver(recs: DataFrame): DataFrame = {
    recs
      .where(col("warc_type") === "response")
      .withColumn("http_status",
        regexp_extract(col("payload"), "^HTTP/1\\.1 (\\d+)", 1).cast("int"))
      .where(col("http_status") === 200)
      .select(
        regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        col("http_status"),
        col("n_headers").cast("long").as("n_warc_headers"),
        md5(CorpusOps.htmlExtract(col("payload").substr(
          instr(col("payload"), "\r\n\r\n") + lit(4),
          length(col("payload"))))).as("extracted_md5"))
      .orderBy("doc_id")
  }

  /** THE WARC-rooted curation composition — the production crawl
    * pipeline end to end: WARC files → record codec → HTTP-200
    * responses only → HTML text extraction → quality gate on the
    * EXTRACTED text (the e_pipeline_e2e thresholds) → Aho–Corasick
    * content blocklist → per-domain survivor rollup, with the domain
    * read from the WARC-Target-URI (not from arithmetic — the parser
    * must recover it). Every stage is individually oracle-proven
    * (e_warc_parse, e_html_extract, e_quality_gate, e_badwords,
    * e_domain_report); this row proves they COMPOSE in one plan after
    * the per-file codec seam. Because extraction round-trips, the
    * oracle runs the whole downstream chain on the original text.
    */
  private val warcPipeline: Q = (spark, dir) => {
    import org.apache.spark.sql.functions._
    val docs = Tables.load(spark, dir, "documents")
    val recs = parseWarcBlobs(synthWarcFiles(docs)).toDF()
    val pages = recs
      .where(col("warc_type") === "response")
      .where(regexp_extract(col("payload"), "^HTTP/1\\.1 (\\d+)", 1) === "200")
      .select(
        substring_index(lower(parse_url(col("target_uri"), lit("HOST"))),
          ".", 1).as("domain"),
        CorpusOps.htmlExtract(col("payload").substr(
          instr(col("payload"), "\r\n\r\n") + lit(4),
          length(col("payload")))).as("text"))
    val alphaRatio =
      length(regexp_replace(col("text"), "[^a-zA-Z]", "")).cast("double") /
        greatest(length(col("text")).cast("double"), lit(1.0))
    val clean = pages
      .where(length(col("text")) >= 100 && alphaRatio >= 0.8)
      .where(size(graft.functions.AhoMatches.blocklistHits(spark,
        lower(col("text")), graft.functions.TextOps.BadPhrases)) === 0)
    clean.groupBy("domain")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).cast("long").as("total_chars"))
      .orderBy("domain")
  }

  /** THE FULL CRAWL-TO-TRAIN COMPOSITION — every production stage in
    * ONE Catalyst plan, from genuine warc.gz bytes to packed training
    * shards:
    *
    *   warc.gz (per-record gzip members, CRC-verified) → strict WARC
    *   framing → HTTP-200 responses → HTML text extraction →
    *   canonical-URL first-seen dedup → TRAINED quality model gate
    *   (frozen GD weights at the 0.5 boundary) → Aho–Corasick content
    *   blocklist → BPE tokenization (the trained merge table's counts)
    *   → 256-token sequence packing per domain.
    *
    * Every seam is individually oracle-proven (e_warc_parse_gz,
    * e_html_extract, e_url_canon, e_quality_infer, e_badwords,
    * e_bpe_apply, e_pack_sequences); this row proves the WHOLE CHAIN
    * composes. The only non-relational seams are the two honest codec/
    * model boundaries: the per-file gunzip flatMap and the frozen
    * weight literals — everything else is one codegen'd plan with two
    * narrow shuffles (canon window, domain packing window) plus the
    * tokenizer-count join.
    */
  /** Parse + HTTP-status filter + text extraction + URL
    * canonicalization for one (micro)batch of warc.gz blobs — the
    * stateless head of the curation pipeline, shared verbatim by the
    * batch showpiece and [[graft.streaming.StreamingOps]]'s micro-batch
    * twin so the two cannot drift.
    */
  private[graft] def extractCanonPages(blobs: DataFrame): DataFrame =
    parseWarcBlobsGz(blobs).toDF()
      .where(col("warc_type") === "response")
      .where(regexp_extract(col("payload"), "^HTTP/1\\.1 (\\d+)", 1) === "200")
      .select(
        regexp_extract(col("target_uri"), "/doc/([0-9]+)$", 1)
          .cast("long").as("doc_id"),
        substring_index(lower(parse_url(col("target_uri"), lit("HOST"))),
          ".", 1).as("domain"),
        graft.operators.CorpusOps.htmlExtract(col("payload").substr(
          instr(col("payload"), "\r\n\r\n") + lit(4),
          length(col("payload")))).as("text"))
      .withColumn("canon_url",
        graft.operators.DomainOps.urlCanonicalize(
          graft.operators.DomainOps.synthUrl(col("doc_id"))))

  /** The trained-model + blocklist gate as one boolean column —
    * stateless, shared by both pipeline forms.
    */
  private[graft] def gateColumn(spark: SparkSession,
      w: Array[Double]): Column =
    (graft.operators.QualityModelOps.scoreOn(col("text"), w) >= 0.5) &&
      (size(graft.functions.AhoMatches.blocklistHits(spark,
        lower(col("text")), graft.functions.TextOps.BadPhrases)) === 0)

  private val fullPipeline: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{PrepOps, QualityModelOps}
    val docs = Tables.load(spark, dir, "documents")
    val w = QualityModelOps.trainedWeights(spark, dir)
    val kept = extractCanonPages(synthWarcFilesGz(docs))
      .withColumn("url_rank", row_number().over(
        Window.partitionBy("canon_url").orderBy("doc_id")))
      .where(col("url_rank") === 1)
    val gated = kept.where(gateColumn(spark, w))
    PrepOps.packCounted(
        gated.join(CorpusOps.bpeTokenCounts(spark, dir), "doc_id")
          .select(col("domain").as("lang"), col("doc_id"), col("n_tok")))
      .select(col("lang").as("domain"), col("bin"), col("n_docs"),
        col("sum_tokens"))
      .orderBy("domain", "bin")
  }

  /** The batch TWIN of the near-dup streamed pipeline
    * ([[graft.streaming.StreamingOps]]'s `e_stream_pipeline_neardup`):
    * [[fullPipeline]] with the MinHash-LSH near-dup lane composed in
    * after canon dedup, run as the same two-day schedule the stream
    * replays — day 1's canon winners LSH-dedup within the day and seed
    * the persisted band/feature index; day 2's canon winners first
    * anti-join the published canon set, then LSH-dedup within the day
    * AND against the index (arrival precedence), so a re-crawled
    * near-duplicate page — same text, different URL, which the
    * canon-url lane cannot see — drops too. The pool (all LSH
    * survivors; gate-failed winners keep shadowing their canon group)
    * then flows through the identical model-gate → blocklist →
    * tokenize → pack tail. The fixture exercises both LSH paths on the
    * gate: 7 verified cross-canon near-dup pairs straddle the day
    * split (cross-index) and 7 sit inside day 2 (within-batch).
    */
  private val fullPipelineNearDup: Q = (spark, dir) => {
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{DedupOps, PrepOps, QualityModelOps}
    val split = graft.streaming.StreamingOps.PipelineSplitId
    val pool = graft.engine.CacheRegistry.memo("warc.neardup", dir)({
        val h = Integer.toHexString(dir.hashCode)
        val bandsTbl = s"graft_pipelsh_b_$h"
        val featsTbl = s"graft_pipelsh_f_$h"
        spark.sql(s"DROP TABLE IF EXISTS $bandsTbl")
        spark.sql(s"DROP TABLE IF EXISTS $featsTbl")
        val docs = Tables.load(spark, dir, "documents")
        def winners(day: DataFrame): DataFrame = day
          .withColumn("url_rank", row_number().over(
            Window.partitionBy("canon_url").orderBy("doc_id")))
          .where(col("url_rank") === 1).drop("url_rank")
        val w1 = winners(extractCanonPages(synthWarcFilesGz(
          docs.where(col("doc_id") < split))))
        val s1 = DedupOps.minhashIncrementalDedup(w1, bandsTbl, featsTbl)
        val w2 = winners(extractCanonPages(synthWarcFilesGz(
          docs.where(col("doc_id") >= split))))
          .join(s1.select("canon_url"), Seq("canon_url"), "left_anti")
        val s2 = DedupOps.minhashIncrementalDedup(w2, bandsTbl, featsTbl)
        // both days' survivors are already localCheckpointed by the
        // dedup (self-invalidation discipline); the union's plan roots
        // at both LogicalRDDs, so one freeFrame releases both
        s1.unionByName(s2)
      })(graft.engine.CacheRegistry.freeFrame)
    val w = QualityModelOps.trainedWeights(spark, dir)
    val gated = pool.where(gateColumn(spark, w))
    PrepOps.packCounted(
        gated.join(CorpusOps.bpeTokenCounts(spark, dir), "doc_id")
          .select(col("domain").as("lang"), col("doc_id"), col("n_tok")))
      .select(col("lang").as("domain"), col("bin"), col("n_docs"),
        col("sum_tokens"))
      .orderBy("domain", "bin")
  }

  val queries: Map[String, Q] = Map(
    "e_warc_parse" -> warcParse,
    "e_warc_parse_gz" -> warcParseGz,
    "e_pipeline_warc" -> warcPipeline,
    "e_pipeline_full" -> fullPipeline,
    "e_pipeline_full_neardup" -> fullPipelineNearDup)

  private def warcPipelineOracle: String = {
    val vals = graft.functions.TextOps.BadPhrases
      .map(p => s"('$p')").mkString(", ")
    s"""WITH p(phrase) AS (VALUES $vals),
       |base AS (
       |  SELECT text, 'site' || (doc_id % 7) AS domain
       |  FROM documents WHERE doc_id % 4 <> 1
       |), gated AS (
       |  SELECT domain, text FROM base
       |  WHERE length(text) >= 100
       |    AND length(regexp_replace(text, '[^a-zA-Z]', '', 'g'))::DOUBLE
       |        / GREATEST(length(text)::DOUBLE, 1.0) >= 0.8
       |    AND NOT EXISTS (SELECT 1 FROM p WHERE
       |      ' ' || regexp_replace(lower(text), '\\s', ' ', 'g') || ' '
       |        LIKE '%' || ' ' || p.phrase || ' ' || '%')
       |)
       |SELECT domain, count(*)::BIGINT AS n_docs,
       |  sum(length(text))::BIGINT AS total_chars
       |FROM gated GROUP BY domain ORDER BY domain""".stripMargin
  }

  private val warcParseOracle: String =
    """SELECT doc_id, 200 AS http_status, 6::BIGINT AS n_warc_headers,
      |  md5(text) AS extracted_md5
      |FROM documents WHERE doc_id % 4 <> 1 ORDER BY doc_id""".stripMargin

  /** Replay of [[fullPipeline]] on the original text (every transport
    * seam — gzip, WARC framing, HTTP head, HTML — is round-trip-proven
    * invisible): the quality-model TRAINING trajectory, the BPE merge
    * rounds, and the curation chain composed as one WITH body. The
    * oracle trains the model AND the tokenizer itself.
    */
  private[graft] def fullPipelineOracle: String = {
    import graft.operators.{CorpusOps, PrepOps, QualityModelOps}
    val vals = graft.functions.TextOps.BadPhrases
      .map(p => s"('$p')").mkString(", ")
    s"""WITH ${QualityModelOps.featCte},
       |${QualityModelOps.iterCtes},
       |${CorpusOps.bpeRoundsCtes},
       |p(phrase) AS (VALUES $vals),
       |base AS (
       |  SELECT doc_id, text, 'site' || (doc_id % 7) AS domain,
       |    doc_id // 2 AS ck
       |  FROM documents WHERE doc_id % 4 <> 1
       |), kept AS (
       |  SELECT doc_id, text, domain FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id)
       |      AS rn FROM base) t
       |  WHERE rn = 1
       |), gated AS (
       |  SELECT k.doc_id, k.domain FROM kept k
       |  JOIN f ON f.doc_id = k.doc_id
       |  CROSS JOIN w${QualityModelOps.Iters} w
       |  WHERE w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
       |        >= CAST(0.5 AS DOUBLE)
       |    AND NOT EXISTS (SELECT 1 FROM p WHERE
       |      ' ' || regexp_replace(lower(k.text), '\\s', ' ', 'g') || ' '
       |        LIKE '%' || ' ' || p.phrase || ' ' || '%')
       |), sized AS (
       |  SELECT g.domain, g.doc_id,
       |    ((len(string_split(r${CorpusOps.BpeMerges}.s, chr(1))) - 1) // 2)
       |      ::BIGINT AS n_tok
       |  FROM gated g
       |  JOIN r${CorpusOps.BpeMerges}
       |    ON r${CorpusOps.BpeMerges}.doc_id = g.doc_id
       |), binned AS (
       |  SELECT domain, n_tok,
       |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY domain
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      / ${PrepOps.CtxLen}) AS BIGINT) AS bin
       |  FROM sized
       |)
       |SELECT domain, bin, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS sum_tokens
       |FROM binned GROUP BY domain, bin ORDER BY domain, bin""".stripMargin
  }

  /** Replay of [[fullPipelineNearDup]] (shared verbatim by the
    * streamed twin): [[fullPipelineOracle]]'s model/BPE/curation
    * machinery composed with [[graft.operators.DedupOps]]'s two-day
    * incremental LSH replay. Day membership: canon winners within each
    * doc_id-range day; day 2 additionally anti-joins the published
    * canon set (day-1 LSH survivors) BEFORE its LSH pass — the CTE
    * order the split [[graft.operators.DedupOps.lshDayOneCtes]] /
    * `lshDayTwoCtes` builders exist for.
    */
  private[graft] def nearDupPipelineOracle: String = {
    import graft.operators.{CorpusOps, DedupOps, PrepOps, QualityModelOps}
    val split = graft.streaming.StreamingOps.PipelineSplitId
    val vals = graft.functions.TextOps.BadPhrases
      .map(p => s"('$p')").mkString(", ")
    s"""WITH ${QualityModelOps.featCte},
       |${QualityModelOps.iterCtes},
       |${CorpusOps.bpeRoundsCtes},
       |p(phrase) AS (VALUES $vals),
       |base AS (
       |  SELECT doc_id, text, 'site' || (doc_id % 7) AS domain,
       |    doc_id // 2 AS ck
       |  FROM documents WHERE doc_id % 4 <> 1
       |), ndw1 AS (
       |  SELECT doc_id, ck FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id)
       |      AS rn FROM base WHERE doc_id < $split) t
       |  WHERE rn = 1
       |),
       |${DedupOps.lshDayOneCtes("ndw1")},
       |ndw2 AS (
       |  SELECT doc_id, ck FROM (
       |    SELECT *, row_number() OVER (PARTITION BY ck ORDER BY doc_id)
       |      AS rn FROM base WHERE doc_id >= $split) t
       |  WHERE rn = 1
       |    AND ck NOT IN (SELECT w.ck FROM nds1 s JOIN ndw1 w USING (doc_id))
       |),
       |${DedupOps.lshDayTwoCtes("ndw2")},
       |pool AS (
       |  SELECT doc_id FROM nds1 UNION ALL SELECT doc_id FROM nds2
       |), gated AS (
       |  SELECT b.doc_id, b.domain FROM pool k
       |  JOIN base b ON b.doc_id = k.doc_id
       |  JOIN f ON f.doc_id = k.doc_id
       |  CROSS JOIN w${QualityModelOps.Iters} w
       |  WHERE w.w0 + w.w1 * f.x1 + w.w2 * f.x2 + w.w3 * f.x3
       |        >= CAST(0.5 AS DOUBLE)
       |    AND NOT EXISTS (SELECT 1 FROM p WHERE
       |      ' ' || regexp_replace(lower(b.text), '\\s', ' ', 'g') || ' '
       |        LIKE '%' || ' ' || p.phrase || ' ' || '%')
       |), sized AS (
       |  SELECT g.domain, g.doc_id,
       |    ((len(string_split(r${CorpusOps.BpeMerges}.s, chr(1))) - 1) // 2)
       |      ::BIGINT AS n_tok
       |  FROM gated g
       |  JOIN r${CorpusOps.BpeMerges}
       |    ON r${CorpusOps.BpeMerges}.doc_id = g.doc_id
       |), binned AS (
       |  SELECT domain, n_tok,
       |    CAST(floor(coalesce(sum(n_tok) OVER (PARTITION BY domain
       |      ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      / ${PrepOps.CtxLen}) AS BIGINT) AS bin
       |  FROM sized
       |)
       |SELECT domain, bin, count(*) AS n_docs,
       |  sum(n_tok)::BIGINT AS sum_tokens
       |FROM binned GROUP BY domain, bin ORDER BY domain, bin""".stripMargin
  }

  val oracles: Map[String, String] = Map(
    "e_warc_parse" -> warcParseOracle,
    // identical oracle: the gzip member framing must be invisible in
    // the parsed records (the persisted-index "same answer" pattern)
    "e_warc_parse_gz" -> warcParseOracle,
    "e_pipeline_warc" -> warcPipelineOracle,
    "e_pipeline_full" -> fullPipelineOracle,
    "e_pipeline_full_neardup" -> nearDupPipelineOracle)
}
