package graft
package queries

import org.apache.spark.sql.functions._
import Fixtures._

/** Connector round-trips and ingest-edge contracts: CSV (incl. malformed
  * input), JSON, ORC, XML, text, binary files, schema merge, single-file
  * export and the hidden `_metadata` column.
  */
private[graft] object ConnectorQueries {

  val declared: Seq[Query] = Seq(
    // -- [NS] non-Parquet connector surface, oracle-gated: export a dim
    // table to CSV through Sources.write (once per JVM), re-read it with an
    // EXPLICIT schema through Sources.read, and the round-trip must be the
    // identity against the original table — quoting, header, and type
    // parsing all on the hook. CSV is the ingest/egress edge; Parquet stays
    // the primary format (TESTDATA.md). --
    // -- [NS] malformed-input handling on the CSV connector: PERMISSIVE
    // mode quarantines bad rows into _corrupt_record instead of failing
    // the scan — the lake-ingest contract (one bad row must not kill a
    // 100 TB load). Fixture: nation as CSV plus two injected garbage
    // lines; the declared result is the survivor count + quarantine count.
    Query("q_source_csv_corrupt", (s, d) => {
      val base = Tables.nation(s, d)
      val dir = scratchDirs.getOrElseUpdate(s"csvcorrupt:$d", {
        val out = scratchDir("graft_csv_bad") + "/nation_bad"
        // header-free on purpose: with header=true Spark blindly skips the
        // FIRST line of every part file, which would swallow one injected
        // garbage line (and the writer's header would itself quarantine
        // under header=false) — headerless keeps the contract exact
        base.coalesce(1).write.mode("overwrite")
          .option("header", "false").csv(out)
        // append a malformed part file: wrong arity + non-numeric key
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(out, "part-99999-garbage.csv"),
          "not_a_number,XX\ntoo,many,columns,here,entirely,extra,cols\n")
        out
      })
      val schema = org.apache.spark.sql.types.StructType(
        base.schema.fields :+
          org.apache.spark.sql.types.StructField("_corrupt_record",
            org.apache.spark.sql.types.StringType, true))
      val read = s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(dir)
        .cache() // corrupt-record column requires a materialized referenced scan
      read.agg(
        sum(when(col("_corrupt_record").isNull, 1L).otherwise(0L)).as("n_good"),
        sum(when(col("_corrupt_record").isNotNull, 1L).otherwise(0L)).as("n_corrupt"))
    },
      // 25 well-formed nation rows survive; exactly the 2 injected garbage
      // lines land in quarantine
      "SELECT (SELECT count(*) FROM nation) AS n_good, CAST(2 AS BIGINT) AS n_corrupt"),

    Query("q_source_csv", (s, d) => {
      val schema = Tables.nation(s, d).schema
      val dir = scratchDirs.getOrElseUpdate(s"csv:$d", {
        val out = scratchDir("graft_csv") + "/nation_csv"
        graft.sources.Sources.write(Tables.nation(s, d), out, "csv")
        out
      })
      graft.sources.Sources.read(s, dir, "csv", Some(schema))
        .orderBy("n_nationkey")
    },
      // CSV round-trip is the identity on the original dim table
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // -- [NS] JSON-lines connector round-trip, same identity contract as
    // the CSV query (schema-explicit read; inference deliberately unexposed)
    Query("q_source_json", (s, d) => {
      val schema = Tables.region(s, d).schema
      val dir = scratchDirs.getOrElseUpdate(s"json:$d", {
        val out = scratchDir("graft_json") + "/region_json"
        graft.sources.Sources.write(Tables.region(s, d), out, "json")
        out
      })
      graft.sources.Sources.read(s, dir, "json", Some(schema))
        .orderBy("r_regionkey")
    },
      // JSON round-trip is the identity on the original dim table
      "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"),

    // -- [NS] ORC connector round-trip (the third lakehouse format Spark
    // ships natively); identity contract incl. a double column, which JSON
    // can't carry losslessly without schema and CSV serializes as text --
    Query("q_source_orc", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"orc:$d", {
        val out = scratchDir("graft_orc") + "/supplier_orc"
        graft.sources.Sources.write(Tables.supplier(s, d), out, "orc")
        out
      })
      graft.sources.Sources.read(s, dir, "orc")
        .orderBy("s_suppkey")
    },
      // ORC round-trip is the identity (ORC stores the schema, so the read
      // needs none passed; the double column survives bit-exactly)
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),

    // -- [REF §3.2] XML connector round-trip: the reference's ingest edge IS
    // XML (`LogChange.loadXmlFile`, `LogChange.cs:99-175`) — documents
    // arrive as XML and get serialized to strings before chunking. Spark 4
    // ships XML natively; write the supplier dim out as <row> elements
    // (once per JVM), re-read with an explicit schema, and the round-trip
    // must be the identity — element escaping and numeric parsing on the
    // hook. Scale shape: the read is a distributed file scan like any other
    // connector; XML stays an ingest edge, Parquet the working format. --
    Query("q_source_xml", (s, d) => {
      val schema = Tables.supplier(s, d).schema
      val dir = scratchDirs.getOrElseUpdate(s"xml:$d", {
        val out = scratchDir("graft_xml") + "/supplier_xml"
        graft.sources.Sources.write(Tables.supplier(s, d), out, "xml")
        out
      })
      graft.sources.Sources.read(s, dir, "xml", Some(schema))
        .orderBy("s_suppkey")
    },
      // XML round-trips are the identity on their source tables
      "SELECT s_suppkey, s_name, s_nationkey, s_acctbal FROM supplier ORDER BY s_suppkey"),

    // -- [REF §3.2] in-engine XML serialize→parse round-trip — the
    // `loadXmlFile` serialization step as column expressions: each document
    // row becomes one XML string (`to_xml`), is parsed back (`from_xml`),
    // and the extracted fields must equal the source table. Entity escaping
    // of arbitrary text (&, <, >) is exactly what this gates. Both
    // directions are codegen'd expressions — no files, no UDFs, fully
    // distributed. --
    Query("q_xml_roundtrip", (s, d) => {
      val xmlSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id BIGINT, lang STRING, source STRING, text STRING")
      documents(s, d)
        .select(to_xml(struct(col("doc_id"), col("lang"), col("source"),
          col("text"))).as("xml"))
        .select(from_xml(col("xml"), xmlSchema).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
          col("r.source").as("source"), col("r.text").as("text"))
        .orderBy("doc_id")
    },
      "SELECT doc_id, lang, source, text FROM documents ORDER BY doc_id"),

    // -- [NS] text connector round-trip: line-oriented raw text, the format
    // web-scale corpora actually arrive in (one record per line, no schema,
    // no types). Write funnels a single string column to .txt part files;
    // read surfaces each line as `value`. Identity contract against the
    // source column; completes the built-in format surface
    // (parquet/csv/json/orc/binaryFile/text). --
    Query("q_source_text", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"text:$d", {
        val out = scratchDir("graft_text") + "/nation_txt"
        graft.sources.Sources.write(
          Tables.nation(s, d).select(col("n_name")), out, "text")
        out
      })
      graft.sources.Sources.read(s, dir, "text")
        .select(col("value").as("n_name"))
        .orderBy("n_name")
    },
      // text (line-oriented) round-trip is the identity on the source column
      "SELECT n_name FROM nation ORDER BY n_name"),

    // -- [NS] schema evolution (mergeSchema): two parquet batches written
    // under one root, the later batch carrying an extra column — the drift
    // every long-lived lake table accumulates. The merged read must surface
    // the union schema with NULLs for the early batch, never failing and
    // never silently dropping the new column. Spark merges footers at
    // LISTING time (one planning pass), so old batches are not rewritten —
    // the property that matters when "old batches" is 100 TB. --
    Query("q_schema_merge", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"mergeschema:$d", {
        val out = scratchDir("graft_mergeschema") + "/events_evolved"
        val ev = events(s, d)
        ev.where(col("event_id") < 500).select("event_id", "value")
          .write.mode("overwrite").parquet(out + "/batch=1")
        ev.where(col("event_id") >= 500 && col("event_id") < 1000)
          .select("event_id", "value", "event_type")
          .write.mode("overwrite").parquet(out + "/batch=2")
        out
      })
      s.read.option("mergeSchema", "true").parquet(dir)
        .select("event_id", "value", "event_type")
        .orderBy("event_id")
    },
      // the mergeSchema read equals the manual union: early batch rows carry
      // NULL for the late-added column, both batches' shared columns intact
      """SELECT event_id, value, CAST(NULL AS VARCHAR) AS event_type
        |FROM events WHERE event_id < 500
        |UNION ALL
        |SELECT event_id, value, event_type
        |FROM events WHERE event_id >= 500 AND event_id < 1000
        |ORDER BY event_id""".stripMargin),

    // -- [NS] binary-file connector: the multimodal ingest shape — a
    // directory of raw files scanned into (path, content) rows, one file
    // per task, no driver-side reads. Fixture files are written once per
    // JVM (driver-side, 64 tiny blobs standing in for externally-produced
    // media); the declared result re-derives each doc's byte length from
    // the scanned content and must match the source table. --
    Query("q_source_binary", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"bin:$d", {
        val out = scratchDir("graft_bin") + "/blobs"
        new java.io.File(out).mkdirs()
        documents(s, d).where(col("doc_id") < 64)
          .select(col("doc_id"), col("text")).collect().foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(out, f"doc_${r.getLong(0)}%05d.bin"),
              r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        out
      })
      graft.sources.Sources.readBinaryFiles(s, dir, Some("*.bin"))
        .select(
          regexp_extract(col("path"), "doc_(\\d+)\\.bin$", 1).cast("long").as("doc_id"),
          length(col("content")).cast("long").as("n_bytes"))
        .orderBy("doc_id")
    },
      // byte length scanned from each written file must equal the UTF-8
      // length of the text it was written from
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents WHERE doc_id < 64 ORDER BY doc_id""".stripMargin),

    // -- [NS] single-file export (Sources.writeSingleFile): a small
    // aggregate coalesced through one task into exactly one parquet file
    // (the driver-side-consumer/report shape), re-read and compared to the
    // aggregate computed directly — sink and re-read both on the hook. --
    Query("q_sink_singlefile", (s, d) => {
      val dir = scratchDirs.getOrElseUpdate(s"singlefile:$d", {
        val out = scratchDir("graft_singlefile") + "/report"
        graft.sources.Sources.writeSingleFile(
          Tables.nation(s, d).groupBy(col("n_regionkey"))
            .agg(count(lit(1)).as("n_nations")), out)
        require(new java.io.File(out).listFiles()
          .count(_.getName.endsWith(".parquet")) == 1,
          "writeSingleFile must produce exactly one parquet part")
        out
      })
      s.read.parquet(dir).orderBy("n_regionkey")
    },
      // single-file export round-trip equals the aggregate computed directly
      """SELECT n_regionkey, count(*) AS n_nations FROM nation
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // -- [NS] hidden `_metadata` file column: per-source-file provenance
    // (name, row count, row_index span) without any user column — the
    // lineage-audit surface every ingest pipeline stamps rows with. The
    // testdata table is one file, so the row_index span is exactly
    // [0, n−1] — which is what the oracle derives relationally. --
    Query("q_file_metadata", (s, d) =>
      events(s, d)
        .select(element_at(split(col("_metadata.file_path"), "/"), -1).as("file_name"),
          col("_metadata.row_index").as("ri"))
        .groupBy(col("file_name"))
        .agg(count(lit(1)).as("n"),
          min(col("ri")).as("min_ri"), max(col("ri")).as("max_ri"))
        .orderBy("file_name"),
      // one source file → n rows indexed 0..n-1, derived relationally
      """SELECT 'events.parquet' AS file_name, count(*) AS n,
        |  CAST(0 AS BIGINT) AS min_ri, count(*) - 1 AS max_ri
        |FROM events""".stripMargin),
  )
}
