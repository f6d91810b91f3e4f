package graft.operators

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import ChSql.{Tok, WORD, NUM, STR, SYM, lex, render, nextNonWs}

/** ClickHouse DDL/DML TEXT surface over the graft [[Catalog]]: accept the
  * statements a reference user actually runs — the reference app creates
  * its tables with exactly this dialect
  * (`app/backend/chat_bot/private_knowledge_base.py:22-31`,
  * `app/backend/constants/myscale_tables.py:24-37`):
  *
  * {{{
  * CREATE TABLE IF NOT EXISTS chat.private_kb (
  *   entity_id String, text String, vector Array(Float32),
  *   CONSTRAINT cons_vec_len CHECK length(vector) = 768,
  *   VECTOR INDEX vidx vector TYPE MSTG('metric_type=Cosine')
  * ) ENGINE = ReplacingMergeTree ORDER BY entity_id
  * }}}
  *
  * and routes them onto the native pieces that already implement the
  * semantics: [[Catalog]] (parquet tables, replacing merge, mutations,
  * TTL, compaction), [[GraphAnn]] (the MSTG-analog vector index),
  * [[ChSql]] (SELECT dialect + SAMPLE BY keys). Statements handled by
  * [[ChDdl.execute]]:
  *
  *   - `CREATE TABLE [IF NOT EXISTS] [db.]t (cols...) ENGINE = E ...`
  *     — full reference shape: CH types (incl. `Array(T)`,
  *     `Nullable(T)`, `LowCardinality(T)`, `Object('JSON')`,
  *     `DateTime64(p)`), `DEFAULT` exprs, `CONSTRAINT ... CHECK`
  *     (enforced on every insert, one aggregate job for ALL
  *     constraints), `VECTOR INDEX ... TYPE MSTG(...)`, Replacing vs
  *     plain MergeTree (optional explicit version column), `ORDER BY`,
  *     bare-column `PARTITION BY`, `SAMPLE BY` (auto-registers the
  *     ChSql sampling key), table `TTL`, `SETTINGS` (ignored).
  *   - `INSERT INTO t [(cols)] VALUES (...), (...)` and
  *     `INSERT INTO t [(cols)] SELECT ...` — aligned by position, cast
  *     to the declared types, `DEFAULT`s applied to omitted columns,
  *     constraints checked, then appended with a monotonic statement
  *     sequence (the ReplacingMergeTree implicit version).
  *   - `ALTER TABLE t DELETE WHERE p` / `UPDATE a = e, ... WHERE p` —
  *     CH mutations (heavy part rewrites, partition-pruned) →
  *     [[Catalog.deleteWhere]]/[[Catalog.updateWhere]]; `DELETE FROM t
  *     WHERE p` — CH's LIGHTWEIGHT delete → [[Catalog.deleteWhereLight]]
  *     (a `_row_exists`-style deletion-vector mask: O(matches), zero
  *     data bytes rewritten, applied by every read until OPTIMIZE or a
  *     heavy mutation materializes it); `UPDATE t SET a = e WHERE p` —
  *     CH's LIGHTWEIGHT update (25.x patch parts) →
  *     [[Catalog.updateWhereLight]] (same O(matches) economics, one
  *     broadcast join per outstanding batch at read).
  *   - `OPTIMIZE TABLE t [FINAL]` → [[Catalog.compact]] (the
  *     replacing-merge made physical; on a materialized view, the
  *     SummingMergeTree merge made physical; folds lightweight
  *     mask/patch sidecars); `OPTIMIZE ... DEDUPLICATE [BY (cols)]` →
  *     [[Catalog.dedupMerge]]; `KILL MUTATION WHERE table = 't'` →
  *     [[Catalog.killMutations]] (revert outstanding sidecars).
  *   - `ALTER TABLE t DROP|DETACH|ATTACH PARTITION 'v'`,
  *     `ATTACH|REPLACE PARTITION 'v' FROM t2`, `MOVE PARTITION 'v' TO
  *     TABLE t2` — the CH partition-manipulation family, all O(directory
  *     move/copy), never a rewrite (the staging-swap restatement
  *     workflow at 100 TB).
  *   - `CREATE MATERIALIZED VIEW v ENGINE = SummingMergeTree ORDER BY k
  *     [POPULATE] AS SELECT ...` — CH's insert-trigger semantics (see
  *     [[MatViewDef]]).
  *   - `TRUNCATE TABLE t`, `DROP TABLE|VIEW [IF EXISTS] t`,
  *     `CREATE TABLE ... AS SELECT` (CTAS), `RENAME TABLE a TO b`,
  *     `EXCHANGE TABLES a AND b`, `CREATE|DROP DATABASE`,
  *     `SHOW DATABASES|TABLES [FROM db]`, `DESCRIBE [TABLE] t`, and
  *     the `system.parts|tables|columns|query_log|mutations`
  *     introspection views.
  *   - anything else → [[ChSql.sql]] (the SELECT dialect), with every
  *     registered table exposed as a replacing-merged temp view.
  *
  * Divergences (documented, loud where they matter): `UInt64` maps to
  * Spark LongType (values >= 2^63 out of scope); `Object('JSON')`
  * stores the JSON text verbatim (the registry's JSON family queries
  * it); unsupported statement forms throw with guidance instead of
  * mis-executing. Reads deduplicate at query time exactly like CH's
  * FINAL — [[ChDdl.view]] IS the `SELECT ... FINAL` semantics, and is
  * a two-column-key window over the sort key: at 100 TB this is one
  * shuffle by sort key, the same cost CH pays in its merge; OPTIMIZE
  * FINAL materializes it so serving reads are shuffle-free.
  */
object ChDdl {

  final case class VectorIndexSpec(name: String, column: String,
    indexType: String, params: Map[String, String])

  /** CH data-skipping index (`INDEX name col TYPE minmax|set|
    * bloom_filter`): minmax is parquet row-group stats (recorded, free);
    * bloom_filter/set become parquet column bloom filters on every write.
    */
  final case class SkipIndexSpec(name: String, column: String,
    indexType: String, fpp: Option[Double])

  final case class ColumnDef(name: String, dataType: DataType,
    nullable: Boolean, default: Option[String])

  final case class ChTableDef(
    name: String,                       // [db.]table as written
    columns: Seq[ColumnDef],
    engine: String,
    replacing: Boolean,
    versionCol: Option[String],         // ReplacingMergeTree(ver)
    orderBy: Seq[String],
    partitionBy: Seq[String],
    sampleBy: Option[String],
    ttl: Option[(String, String)],      // (tsCol, interval expr text)
    constraints: Seq[(String, String)], // (name, CHECK expr text)
    vectorIndexes: Seq[VectorIndexSpec],
    skipIndexes: Seq[SkipIndexSpec] = Nil) {
    def schema: StructType =
      StructType(columns.map(c => StructField(c.name, c.dataType, c.nullable)))
  }

  /** A `CREATE MATERIALIZED VIEW ... ENGINE = SummingMergeTree ORDER BY
    * keys [POPULATE] AS SELECT ...` — CH's insert-trigger semantics: the
    * SELECT runs over each INSERTED BLOCK (one graft INSERT statement =
    * one block), never over the whole base; its result appends to the
    * view's own storage. Reads merge with SummingMergeTree semantics
    * (group by the ORDER BY key, sum every other column — all non-key
    * columns must be numeric, enforced loudly). Divergences, documented:
    * rows whose summed columns are all zero are KEPT (CH deletes them,
    * but only when a merge happens to run — timing-dependent, while this
    * engine is deterministic); ALTER mutations on the base do NOT
    * propagate (same as CH); POPULATE here is exact (single-process — no
    * concurrent-insert loss window to worry about).
    */
  final case class MatViewDef(name: String, orderBy: Seq[String],
    selectText: String, baseTable: String,
    engine: String = "SummingMergeTree",
    states: Map[String, String] = Map.empty) // colName -> state kind

  private val mvDefs = new TrieMap[String, MatViewDef]

  /** Synthetic per-INSERT-statement version column backing the
    * ReplacingMergeTree "last insert wins" rule when the DDL names no
    * explicit version column. Monotonic per table per process; on
    * re-attach to an existing table dir it resumes from the stored max.
    */
  private final val SeqCol = "__ch_seq"

  private val defs = new TrieMap[String, ChTableDef]
  private val seqs = new TrieMap[String, java.util.concurrent.atomic.AtomicLong]
  /** Registered database namespaces (CREATE/DROP DATABASE, SHOW
    * DATABASES). Dotted table names auto-namespace without registration
    * (the reference's `chat.kb` shape works bare); the registry is the
    * bookkeeping DROP DATABASE and SHOW need.
    */
  private val databases = new TrieMap[String, Unit]

  private def key(cat: Catalog, table: String) = cat.root + "::" + table.toLowerCase

  def tableDef(cat: Catalog, table: String): ChTableDef =
    defs.getOrElse(key(cat, table), throw new IllegalArgumentException(
      s"ChDdl: unknown table '$table' — CREATE TABLE it first"))

  // ---- CH type mapping -------------------------------------------------

  private def unq(s: String): String =
    if (s.length >= 2 && (s.head == '`' || s.head == '"') && s.last == s.head)
      s.substring(1, s.length - 1)
    else s

  /** CH type → Spark type. Nullability is CH-style: everything is
    * non-nullable unless wrapped in `Nullable(T)`.
    */
  def chType(name: String, args: Seq[String]): (DataType, Boolean) =
    name.toLowerCase match {
      case "nullable" =>
        val (t, _) = chTypeText(args.head); (t, true)
      case "lowcardinality" => chTypeText(args.head)
      case "array" =>
        val (t, n) = chTypeText(args.head)
        (ArrayType(t, containsNull = n), false)
      case "map" =>
        val (k, _) = chTypeText(args(0)); val (v, vn) = chTypeText(args(1))
        (MapType(k, v, valueContainsNull = vn), false)
      case "tuple" =>
        val fields = args.zipWithIndex.map { case (a, i) =>
          val parts = a.trim.split("\\s+", 2)
          if (parts.length == 2) {
            val (t, n) = chTypeText(parts(1)); StructField(unq(parts(0)), t, n)
          } else { val (t, n) = chTypeText(a); StructField(s"_${i + 1}", t, n) }
        }
        (StructType(fields), false)
      case "string" | "uuid" | "ipv6" | "json" | "object" => (StringType, false)
      case "fixedstring" => (StringType, false)
      case "enum8" | "enum16" => (StringType, false)
      case "ipv4" => (StringType, false)
      case "bool" | "boolean" => (BooleanType, false)
      case "int8" => (ByteType, false)
      case "int16" => (ShortType, false)
      case "int32" => (IntegerType, false)
      case "int64" => (LongType, false)
      case "int128" | "int256" | "uint128" | "uint256" =>
        (DecimalType(38, 0), false)
      case "uint8" => (ShortType, false)
      case "uint16" => (IntegerType, false)
      case "uint32" => (LongType, false)
      case "uint64" => (LongType, false) // >= 2^63 out of scope (doc'd)
      case "float32" | "bfloat16" => (FloatType, false)
      case "float64" => (DoubleType, false)
      case "decimal" =>
        (DecimalType(args(0).trim.toInt, args(1).trim.toInt), false)
      case "decimal32" => (DecimalType(9, args.head.trim.toInt), false)
      case "decimal64" => (DecimalType(18, args.head.trim.toInt), false)
      case "decimal128" => (DecimalType(38, args.head.trim.toInt), false)
      case "date" | "date32" => (DateType, false)
      case "datetime" => (TimestampType, false)
      case "datetime64" => (TimestampType, false)
      case other => throw new IllegalArgumentException(
        s"ChDdl: unsupported ClickHouse type '$other'")
    }

  /** Parse a type written as text, e.g. `Array(Nullable(Float32))`. */
  private def chTypeText(text: String): (DataType, Boolean) = {
    val t = text.trim
    val p = t.indexOf('(')
    if (p < 0) chType(t, Nil)
    else {
      require(t.endsWith(")"), s"ChDdl: malformed type '$t'")
      val inner = t.substring(p + 1, t.length - 1)
      // split on top-level commas
      val args = Vector.newBuilder[String]
      var depth = 0; var start = 0
      var i = 0
      while (i < inner.length) {
        inner.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case ',' if depth == 0 => args += inner.substring(start, i); start = i + 1
          case _ =>
        }
        i += 1
      }
      args += inner.substring(start)
      chType(t.substring(0, p).trim, args.result().map(a => unq(a.trim)))
    }
  }

  // ---- CREATE TABLE parser --------------------------------------------

  /** Entry boundaries inside a column definition (depth-1 commas). */
  private def splitTop(toks: Vector[Tok], from: Int, to: Int, depth: Int): Seq[(Int, Int)] = {
    val out = Vector.newBuilder[(Int, Int)]
    var start = from
    var i = from
    while (i < to) {
      if (toks(i).kind == SYM && toks(i).text == "," && toks(i).depth == depth) {
        out += ((start, i)); start = i + 1
      }
      i += 1
    }
    out += ((start, to))
    out.result()
  }

  def parseCreate(text: String): (ChTableDef, Boolean) = {
    val toks = lex(text)
    var i = nextNonWs(toks, 0)
    def word(at: Int): String = { require(at < toks.length &&
      (toks(at).kind == WORD || toks(at).kind == STR),
      s"ChDdl: expected identifier near '${render(toks.drop(at)).take(40)}'")
      unq(toks(at).text) }
    def eat(w: String): Unit = {
      require(i < toks.length && toks(i).isWord(w),
        s"ChDdl: expected $w near '${render(toks.drop(i)).take(40)}'")
      i = nextNonWs(toks, i + 1)
    }
    eat("CREATE"); eat("TABLE")
    var ifNotExists = false
    if (toks(i).isWord("IF")) {
      eat("IF"); eat("NOT"); eat("EXISTS"); ifNotExists = true
    }
    // [db.]name
    var name = word(i)
    i = nextNonWs(toks, i + 1)
    if (i < toks.length && toks(i).text == ".") {
      i = nextNonWs(toks, i + 1)
      name = name + "." + word(i)
      i = nextNonWs(toks, i + 1)
    }
    require(i < toks.length && toks(i).text == "(",
      "ChDdl: expected column list '(' after table name")
    // find matching close of the depth-1 column list
    val open = i
    var close = -1
    var j = open + 1
    while (j < toks.length && close < 0) {
      if (toks(j).kind == SYM && toks(j).text == ")" && toks(j).depth == 1)
        close = j
      j += 1
    }
    require(close > 0, "ChDdl: unterminated column list")

    val columns = Vector.newBuilder[ColumnDef]
    val constraints = Vector.newBuilder[(String, String)]
    val vindexes = Vector.newBuilder[VectorIndexSpec]
    val sindexes = Vector.newBuilder[SkipIndexSpec]

    splitTop(toks, open + 1, close, 1).foreach { case (from, to) =>
      var k = nextNonWs(toks, from)
      if (k >= to) () // trailing comma tolerance
      else if (toks(k).isWord("CONSTRAINT")) {
        k = nextNonWs(toks, k + 1)
        val cname = word(k)
        k = nextNonWs(toks, k + 1)
        require(toks(k).isWord("CHECK"), "ChDdl: CONSTRAINT needs CHECK")
        constraints += ((cname, render(toks.slice(k + 1, to)).trim))
      } else if (toks(k).isWord("VECTOR") && {
        // the reference tables have a COLUMN named `vector` — only the
        // two-word `VECTOR INDEX` form is the index entry
        val n = nextNonWs(toks, k + 1); n < to && toks(n).isWord("INDEX")
      }) {
        k = nextNonWs(toks, k + 1)
        k = nextNonWs(toks, k + 1)
        val iname = word(k); k = nextNonWs(toks, k + 1)
        val colName = word(k); k = nextNonWs(toks, k + 1)
        require(toks(k).isWord("TYPE"), "ChDdl: VECTOR INDEX needs TYPE")
        k = nextNonWs(toks, k + 1)
        val itype = word(k); k = nextNonWs(toks, k + 1)
        // ('k=v', 'k=v') parameter strings
        val params = Map.newBuilder[String, String]
        if (k < to && toks(k).text == "(") {
          var p = k + 1
          while (p < to && toks(p).text != ")") {
            if (toks(p).kind == STR) {
              val raw = unqStr(toks(p).text)
              raw.split("=", 2) match {
                case Array(a, b) => params += (a.trim -> b.trim)
                case _ => params += (raw.trim -> "")
              }
            }
            p += 1
          }
        }
        vindexes += VectorIndexSpec(iname, colName, itype, params.result())
      } else if (toks(k).isWord("INDEX") &&
          toks.slice(k + 1, to).exists(x => x.depth == 1 && x.isWord("TYPE"))) {
        // CH data-skipping index DDL (`INDEX name col TYPE minmax|set(N)|
        // bloom_filter[(fpp)] [GRANULARITY n]`). Mapping measured in
        // PLANS "Data skipping": `minmax` is what parquet row-group
        // statistics already provide (recorded, no physical artifact);
        // `bloom_filter` and `set` become PARQUET COLUMN BLOOM FILTERS —
        // registered as writer options on the table path, consulted by
        // every Catalog write including mutation rewrites. NDV defaults
        // to 8192 PER ROW GROUP (≈ CH's index_granularity; the PLANS
        // soak shows corpus-level ndv balloons the file 11×). A COLUMN
        // named `index` lacks the TYPE keyword and falls through to the
        // column branch.
        k = nextNonWs(toks, k + 1)
        val iname = word(k); k = nextNonWs(toks, k + 1)
        val colName = word(k); k = nextNonWs(toks, k + 1)
        require(toks(k).isWord("TYPE"),
          s"ChDdl: skip index $iname over an EXPRESSION is not supported " +
            "— materialize the expression as a column and index that")
        k = nextNonWs(toks, k + 1)
        val itype = word(k).toLowerCase
        require(Set("minmax", "set", "bloom_filter").contains(itype),
          s"ChDdl: unsupported skip index type '$itype'")
        // bloom_filter(fpp) / set(N): one optional numeric argument
        var fpp: Option[Double] = None
        val pIdx = nextNonWs(toks, k + 1)
        if (pIdx < to && toks(pIdx).text == "(") {
          val v = nextNonWs(toks, pIdx + 1)
          if (v < to && toks(v).kind == NUM && itype == "bloom_filter")
            fpp = Some(toks(v).text.toDouble)
        }
        sindexes += SkipIndexSpec(iname, colName, itype, fpp)
      } else {
        // column: name Type [DEFAULT expr] [CODEC(...)] [TTL ...] [COMMENT s]
        val cname = word(k)
        k = nextNonWs(toks, k + 1)
        // type runs until DEFAULT/CODEC/TTL/COMMENT/entry end
        val attrStops = Set("DEFAULT", "MATERIALIZED", "ALIAS", "CODEC",
          "TTL", "COMMENT")
        var typeEnd = k
        while (typeEnd < to && !(toks(typeEnd).kind == WORD &&
          toks(typeEnd).depth == 1 &&
          attrStops.contains(toks(typeEnd).text.toUpperCase))) typeEnd += 1
        val typeText = render(toks.slice(k, typeEnd)).trim
        require(typeText.nonEmpty, s"ChDdl: column '$cname' missing a type")
        val (dt, nullable) = chTypeText(typeText)
        // DEFAULT expr (MATERIALIZED/ALIAS are rejected loudly below)
        var default: Option[String] = None
        var a = typeEnd
        while (a < to) {
          if (toks(a).kind == WORD && toks(a).depth == 1) {
            toks(a).text.toUpperCase match {
              case "DEFAULT" =>
                var e = nextNonWs(toks, a + 1)
                var end = e
                while (end < to && !(toks(end).kind == WORD &&
                  toks(end).depth == 1 &&
                  attrStops.contains(toks(end).text.toUpperCase))) end += 1
                default = Some(render(toks.slice(e, end)).trim)
                a = end - 1
              case "MATERIALIZED" | "ALIAS" =>
                throw new UnsupportedOperationException(
                  s"ChDdl: $cname ${toks(a).text} — computed columns are " +
                    "not supported; compute in the INSERT SELECT instead")
              case _ => // CODEC/TTL/COMMENT: storage/doc attributes, ignored
            }
          }
          a += 1
        }
        columns += ColumnDef(cname, dt, nullable, default)
      }
    }

    // ---- table-level clauses after the column list ----
    i = nextNonWs(toks, close + 1)
    var engine = "MergeTree"
    var versionCol: Option[String] = None
    var orderBy = Seq.empty[String]
    var partitionBy = Seq.empty[String]
    var sampleBy: Option[String] = None
    var ttl: Option[(String, String)] = None

    def clauseEnd(from: Int): Int = {
      val stops = Set("ENGINE", "ORDER", "PARTITION", "PRIMARY", "SAMPLE",
        "TTL", "SETTINGS", "COMMENT")
      var e = from
      while (e < toks.length && !(toks(e).kind == WORD && toks(e).depth == 0 &&
        stops.contains(toks(e).text.toUpperCase))) e += 1
      e
    }
    def keyList(from: Int, to: Int): Seq[String] = {
      val txt = render(toks.slice(from, to)).trim
      val body = if (txt.startsWith("(") && txt.endsWith(")"))
        txt.substring(1, txt.length - 1) else txt
      if (body.trim.isEmpty || body.trim.equalsIgnoreCase("tuple()")) Nil
      else body.split(",").map(s => unq(s.trim)).toSeq
    }

    while (i < toks.length) {
      val w = toks(i).text.toUpperCase
      w match {
        case "ENGINE" =>
          i = nextNonWs(toks, i + 1)
          require(toks(i).text == "=", "ChDdl: expected ENGINE = ...")
          i = nextNonWs(toks, i + 1)
          engine = word(i)
          i = nextNonWs(toks, i + 1)
          if (i < toks.length && toks(i).text == "(") {
            // ReplacingMergeTree(ver) — engine args; Replicated* engines
            // additionally take zk path + replica, which have no local
            // meaning and are ignored
            var e = i + 1
            val args = Vector.newBuilder[String]
            while (e < toks.length && toks(e).text != ")") {
              if (toks(e).kind == WORD) args += unq(toks(e).text)
              e += 1
            }
            val as = args.result()
            if (engine.toLowerCase.contains("replacing") && as.nonEmpty)
              versionCol = Some(as.last)
            i = nextNonWs(toks, e + 1)
          }
        case "ORDER" =>
          i = nextNonWs(toks, i + 1); eat("BY")
          val e = clauseEnd(i); orderBy = keyList(i, e); i = e
        case "PRIMARY" => // prefix of ORDER BY in CH; the sort key governs
          i = nextNonWs(toks, i + 1); eat("KEY")
          val e = clauseEnd(i); i = e
        case "PARTITION" =>
          i = nextNonWs(toks, i + 1); eat("BY")
          val e = clauseEnd(i)
          val cols = keyList(i, e)
          require(cols.forall(c => c.forall(ch => ch.isLetterOrDigit || ch == '_')),
            "ChDdl: only bare-column PARTITION BY is supported — " +
              "materialize the expression as a column first")
          partitionBy = cols; i = e
        case "SAMPLE" =>
          i = nextNonWs(toks, i + 1); eat("BY")
          val e = clauseEnd(i)
          sampleBy = Some(unq(render(toks.slice(i, e)).trim)); i = e
        case "TTL" =>
          val e = clauseEnd(nextNonWs(toks, i + 1))
          val t = render(toks.slice(nextNonWs(toks, i + 1), e)).trim
          // `tsCol + INTERVAL n UNIT` — split at the +
          val plus = t.indexOf('+')
          require(plus > 0, s"ChDdl: unsupported TTL shape '$t' — " +
            "expected <tsColumn> + INTERVAL n UNIT")
          ttl = Some((unq(t.substring(0, plus).trim), t.substring(plus + 1).trim))
          i = e
        case "SETTINGS" | "COMMENT" => i = toks.length // tail directives
        case other => throw new IllegalArgumentException(
          s"ChDdl: unexpected clause '$other' after column list")
      }
      if (i < toks.length) i = nextNonWs(toks, i)
    }

    val replacing = engine.toLowerCase.contains("replacing")
    require(!engine.toLowerCase.contains("summing") &&
      !engine.toLowerCase.contains("aggregating") &&
      !engine.toLowerCase.contains("collapsing"),
      s"ChDdl: engine $engine not supported — Summing/Aggregating rollups " +
        "are served by graft.operators.Projections matviews")
    (ChTableDef(name, columns.result(), engine, replacing, versionCol,
      orderBy, partitionBy, sampleBy, ttl, constraints.result(),
      vindexes.result(), sindexes.result()), ifNotExists)
  }

  private def unqStr(s: String): String =
    if (s.length >= 2 && s.head == '\'' && s.last == '\'')
      s.substring(1, s.length - 1).replace("''", "'").replace("\\'", "'")
    else s

  // ---- execution -------------------------------------------------------

  /** Execute one CH statement against a catalog. DDL/DML return an empty
    * frame; SELECTs return their result (with all registered tables
    * visible as replacing-merged views — CH `FINAL` semantics).
    */
  /** Execute a multi-statement script (top-level `;` separated — the
    * shape a CH client sends from a .sql file; semicolons inside string
    * literals or parens are lexed, never split on). Returns the LAST
    * statement's frame.
    */
  def executeScript(cat: Catalog, script: String): DataFrame = {
    val toks = lex(script)
    val stmts = Vector.newBuilder[String]
    var start = 0
    var i = 0
    while (i < toks.length) {
      if (toks(i).kind == SYM && toks(i).text == ";" && toks(i).depth == 0) {
        stmts += render(toks.slice(start, i)); start = i + 1
      }
      i += 1
    }
    stmts += render(toks.slice(start, toks.length))
    val nonEmpty = stmts.result().map(_.trim).filter(_.nonEmpty)
    require(nonEmpty.nonEmpty, "ChDdl: empty script")
    nonEmpty.map(execute(cat, _)).last
  }

  def execute(cat: Catalog, text: String): DataFrame = {
    val spark = cat.spark
    // label every job this statement launches (guide §1.5) — statement
    // lifecycles run many small jobs, and the profiler/UI otherwise shows
    // only anonymous AQE stage-materialization callsites. Thread-local,
    // reset in executeLabeled's finally; jobs of a RETURNED lazy SELECT
    // run after that and stay unlabeled (the caller's action, not ours).
    val prev = spark.sparkContext.getLocalProperty("spark.job.description")
    spark.sparkContext.setJobDescription(
      "chddl: " + text.replaceAll("\\s+", " ").trim.take(80))
    try executeUnlabeled(cat, text)
    finally spark.sparkContext.setJobDescription(prev)
  }

  private def executeUnlabeled(cat: Catalog, text: String): DataFrame = {
    val spark = cat.spark
    val toks = lex(text)
    val i0 = nextNonWs(toks, 0)
    val head = if (i0 < toks.length && toks(i0).kind == WORD)
      toks(i0).text.toUpperCase else ""
    head match {
      case "CREATE" =>
        val n = nextNonWs(toks, i0 + 1)
        if (n < toks.length && toks(n).isWord("DATABASE")) {
          var i = nextNonWs(toks, n + 1)
          var ifNotExists = false
          if (i < toks.length && toks(i).isWord("IF")) {
            i = nextNonWs(toks, i + 1); require(toks(i).isWord("NOT"),
              "ChDdl: expected IF NOT EXISTS")
            i = nextNonWs(toks, i + 1); require(toks(i).isWord("EXISTS"),
              "ChDdl: expected IF NOT EXISTS")
            i = nextNonWs(toks, i + 1)
            ifNotExists = true
          }
          val db = unq(toks(i).text)
          require(ifNotExists || !databases.contains(key(cat, db)),
            s"ChDdl: database $db already exists (no IF NOT EXISTS)")
          databases.put(key(cat, db), ())
          emptyResult(spark)
        } else if (n < toks.length && toks(n).isWord("MATERIALIZED"))
          createMatView(cat, text)
        else if (n < toks.length && toks(n).isWord("VIEW"))
          throw new UnsupportedOperationException(
            "ChDdl: plain CREATE VIEW is not supported — use CREATE " +
              "MATERIALIZED VIEW, or register a Spark temp view")
        else createTable(cat, text)
      case "INSERT" => insert(cat, toks, i0)
      case "ALTER" => alter(cat, toks, i0)
      case "OPTIMIZE" => optimize(cat, toks, i0)
      case "SYSTEM" =>
        // SYSTEM UNFREEZE WITH NAME 'n': drop the named backup from
        // every table of this catalog (CH's global backup cleanup)
        var i = nextNonWs(toks, i0 + 1)
        require(i < toks.length && toks(i).isWord("UNFREEZE"),
          "ChDdl: only SYSTEM UNFREEZE WITH NAME '<n>' is supported")
        i = nextNonWs(toks, i + 1)
        require(i < toks.length && toks(i).isWord("WITH"),
          "ChDdl: expected SYSTEM UNFREEZE WITH NAME '<n>'")
        i = nextNonWs(toks, i + 1)
        require(i < toks.length && toks(i).isWord("NAME"),
          "ChDdl: expected SYSTEM UNFREEZE WITH NAME '<n>'")
        i = nextNonWs(toks, i + 1)
        require(i < toks.length, "ChDdl: SYSTEM UNFREEZE needs a name")
        val n = unqStr(toks(i).text)
        cat.shadows().filter(col("name") === n).select("table")
          .collect().foreach(r => cat.unfreeze(r.getString(0), n))
        emptyResult(spark)
      case "DELETE" =>
        // CH lightweight delete (`DELETE FROM t WHERE p`): writes a
        // deletion-vector mask sidecar — O(matches), zero data bytes
        // rewritten, exactly CH's `_row_exists` semantics. The heavy
        // part-rewrite stays on `ALTER TABLE .. DELETE WHERE` (the CH
        // mutation); OPTIMIZE materializes accumulated masks.
        var i = skipWord(toks, i0, "DELETE", "FROM")
        val (t, after) = tableNameAt(toks, i)
        val d = tableDef(cat, t)
        // optional CH `IN PARTITION 'v'` scope: the mask is bounded to
        // the partition, and the FIND scan prunes to its directories
        val (partVals, afterIn) =
          inPartitionValuesAt(toks, nextNonWs(toks, after), d)
        i = afterIn
        require(i < toks.length && toks(i).isWord("WHERE"),
          "ChDdl: DELETE FROM needs WHERE (TRUNCATE empties a table)")
        val pred = expr(normalize(render(toks.drop(i + 1)).trim))
        val full = partVals.map(vs =>
          d.partitionBy.take(vs.length).zip(vs)
            .map { case (c, v) => col(c) === lit(v) }.reduce(_ && _) && pred)
          .getOrElse(pred)
        cat.deleteWhereLight(d.name, full)
        emptyResult(spark)
      case "UPDATE" =>
        // CH lightweight UPDATE (`UPDATE t SET a = e, ... WHERE p`, the
        // 25.x patch-parts statement): writes an update-patch sidecar —
        // O(matches), zero data bytes rewritten, applied by every read
        // until OPTIMIZE or a heavy mutation folds it in. The heavy part
        // rewrite stays on `ALTER TABLE ... UPDATE` (the CH mutation).
        var i = nextNonWs(toks, i0 + 1)
        val (t, after) = tableNameAt(toks, i)
        val d = tableDef(cat, t)
        i = nextNonWs(toks, after)
        require(i < toks.length && toks(i).isWord("SET"),
          "ChDdl: expected UPDATE <table> SET a = expr [, ...] WHERE p")
        var wd = -1
        var w = i + 1
        while (w < toks.length && wd < 0) {
          if (toks(w).isWord("WHERE") && toks(w).depth == 0) wd = w
          w += 1
        }
        require(wd > 0, "ChDdl: UPDATE needs WHERE (patch the whole " +
          "table explicitly with WHERE 1 = 1 if that is really meant)")
        val assigns = splitTop(toks, nextNonWs(toks, i + 1), wd, 0).map {
          case (from, to) =>
            val s = render(toks.slice(from, to))
            val eq = s.indexOf('=')
            require(eq > 0, s"ChDdl: malformed UPDATE assignment '$s'")
            unq(s.substring(0, eq).trim) -> expr(normalize(s.substring(eq + 1).trim))
        }
        val protectedCols = (d.orderBy ++ d.partitionBy ++ d.versionCol).toSet
        val hit = assigns.map(_._1).filter(protectedCols.contains)
        require(hit.isEmpty,
          s"ChDdl: UPDATE cannot mutate key/partition/version column(s) " +
            s"${hit.mkString(", ")} (CH forbids the same)")
        cat.updateWhereLight(d.name,
          expr(normalize(render(toks.drop(wd + 1)).trim)), assigns.toMap)
        emptyResult(spark)
      case "KILL" =>
        // CH `KILL MUTATION WHERE ... table = 't' ...`: revert the
        // table's OUTSTANDING lightweight mutations (unmerged mask/patch
        // sidecars — data files were never touched, so the kill is two
        // directory removals). Folded mutations are gone from
        // system.mutations and not killable, like CH's finished ones.
        var i = nextNonWs(toks, i0 + 1)
        require(i < toks.length && toks(i).isWord("MUTATION"),
          "ChDdl: expected KILL MUTATION WHERE table = '<t>'")
        var t: Option[String] = None
        while (i < toks.length && t.isEmpty) {
          if (toks(i).isWord("table")) {
            val eq = nextNonWs(toks, i + 1)
            val v = if (eq < toks.length) nextNonWs(toks, eq + 1) else toks.length
            if (eq < toks.length && toks(eq).text == "=" && v < toks.length &&
                (toks(v).kind == STR || toks(v).kind == WORD))
              t = Some(unqStr(toks(v).text))
          }
          i += 1
        }
        val d = tableDef(cat, t.getOrElse(throw new IllegalArgumentException(
          "ChDdl: KILL MUTATION needs a `table = '<t>'` predicate")))
        cat.killMutations(d.name)
        emptyResult(spark)
      case "EXPLAIN" =>
        // CH EXPLAIN [PLAN|PIPELINE|...] stmt → the Spark physical plan
        // of the statement's frame, one line per row;
        // EXPLAIN INDEXES = 1 stmt → the granule-pruning report (CH's
        // indexes=1: per conjunct, how many row groups each physical
        // index keeps — partition dirs, row-group minmax, column blooms)
        var i = nextNonWs(toks, i0 + 1)
        if (i < toks.length && toks(i).isWord("ESTIMATE")) {
          // CH EXPLAIN ESTIMATE: per scanned table, (parts, rows, marks)
          // from footer metadata only — no data read
          val stmt = toks.drop(nextNonWs(toks, i + 1)).toVector
          var f = 0
          while (f < stmt.length && !(stmt(f).isWord("FROM") && stmt(f).depth == 0)) f += 1
          require(f < stmt.length, "ChDdl: EXPLAIN ESTIMATE needs a FROM clause")
          val (t, _) = tableNameAt(stmt, nextNonWs(stmt, f + 1))
          val td = tableDef(cat, t)
          val (parts, rows, marks) = SkipStats.estimate(spark,
            s"${cat.root}/${td.name}")
          import spark.implicits._
          Seq((td.name, parts, rows, marks))
            .toDF("table", "parts", "rows", "marks")
        } else if (i < toks.length && toks(i).isWord("INDEXES")) {
          val eq = nextNonWs(toks, i + 1)
          val v = if (eq < toks.length) nextNonWs(toks, eq + 1) else toks.length
          require(eq < toks.length && toks(eq).text == "=" &&
            v < toks.length && toks(v).text == "1",
            "ChDdl: expected EXPLAIN INDEXES = 1 <select>")
          explainIndexes(cat, toks.drop(nextNonWs(toks, v + 1)).toVector)
        } else {
          if (i < toks.length && (toks(i).isWord("PLAN") ||
              toks(i).isWord("PIPELINE") || toks(i).isWord("AST") ||
              toks(i).isWord("SYNTAX"))) i = nextNonWs(toks, i + 1)
          val target = execute(cat, render(toks.drop(i)))
          import spark.implicits._
          target.queryExecution.executedPlan.toString
            .linesIterator.toSeq.toDF("explain")
        }
      case "RENAME" =>
        var i = skipWord(toks, i0, "RENAME", "TABLE")
        val (from, afterFrom) = tableNameAt(toks, i)
        i = nextNonWs(toks, afterFrom)
        require(i < toks.length && toks(i).isWord("TO"),
          "ChDdl: expected RENAME TABLE a TO b")
        val (to, _) = tableNameAt(toks, nextNonWs(toks, i + 1))
        renameTable(cat, from, to)
        emptyResult(spark)
      case "EXCHANGE" =>
        var i = skipWord(toks, i0, "EXCHANGE", "TABLES")
        val (a, afterA) = tableNameAt(toks, i)
        i = nextNonWs(toks, afterA)
        require(i < toks.length && toks(i).isWord("AND"),
          "ChDdl: expected EXCHANGE TABLES a AND b")
        val (b, _) = tableNameAt(toks, nextNonWs(toks, i + 1))
        // the blue/green swap: rename through a temp slot, all-metadata.
        // Every precondition of all THREE renames is validated UP FRONT,
        // so no requirement failure can strand `a` in the temp slot
        // mid-swap: after rename 1 succeeds, rename 2's target slot was
        // just vacated by rename 1 and rename 3's by rename 2 — the only
        // refusable conditions are the ones checked here. (An IO-level
        // crash between renames can still strand the slot — a filesystem
        // cannot make three renames atomic; recovery is one statement,
        // `RENAME TABLE __xchg_<n> TO <a>`, and the swap is
        // driver-serialized so nothing races the window. Spec-pinned in
        // DdlSpec.)
        val tmp = s"__xchg_${mvBindSeq.incrementAndGet()}"
        // self-exchange would defeat the up-front validation: rename 1
        // moves `a` into the temp slot and deregisters it, so rename 2
        // (a -> a) would fail its unknown-table require with `a`
        // stranded in the slot — refuse before touching anything
        require(key(cat, a) != key(cat, b),
          s"ChDdl: EXCHANGE TABLES needs two distinct tables (got '$a')")
        def registered(t: String) =
          defs.contains(key(cat, t)) || mvDefs.contains(key(cat, t))
        require(registered(a), s"ChDdl: unknown table '$a'")
        require(registered(b), s"ChDdl: unknown table '$b'")
        require(!registered(tmp) && !tableExists(cat, tmp),
          s"ChDdl: EXCHANGE temp slot '$tmp' is occupied — a previous " +
            s"exchange crashed mid-swap; recover it with RENAME TABLE")
        Seq(a, b).foreach { t =>
          require(!tableExists(cat, t) ||
            (!cat.hasDeletes(t) && !cat.hasPatches(t)),
            s"ChDdl: table '$t' has outstanding lightweight mutations — " +
              "OPTIMIZE it first, then EXCHANGE (path-based sidecar " +
              "entries cannot survive a table-directory move)")
        }
        renameTable(cat, a, tmp)
        renameTable(cat, b, a)
        renameTable(cat, tmp, b)
        emptyResult(spark)
      case "SHOW" =>
        val n = nextNonWs(toks, i0 + 1)
        import spark.implicits._
        val prefix = cat.root + "::"
        if (n < toks.length && toks(n).isWord("DATABASES")) {
          databases.snapshot().keysIterator
            .collect { case k if k.startsWith(prefix) => k.drop(prefix.length) }
            .toSeq.sorted.toDF("name")
        } else {
          require(n < toks.length && toks(n).isWord("TABLES"),
            "ChDdl: only SHOW TABLES / SHOW DATABASES are supported")
          // optional FROM|IN db filter
          val f = nextNonWs(toks, n + 1)
          val dbFilter: Option[String] =
            if (f < toks.length && (toks(f).isWord("FROM") || toks(f).isWord("IN")))
              Some(unq(toks(nextNonWs(toks, f + 1)).text).toLowerCase)
            else None
          def inDb(name: String): Boolean = dbFilter.forall { db =>
            name.toLowerCase.startsWith(db + ".")
          }
          val rows =
            defs.snapshot().collect {
              case (k, d) if k.startsWith(prefix) && inDb(d.name) =>
                (d.name, d.engine)
            }.toSeq ++
            mvDefs.snapshot().collect {
              case (k, m) if k.startsWith(prefix) && inDb(m.name) =>
                (m.name, "MaterializedView")
            }
          rows.toSeq.sortBy(_._1).toDF("name", "engine")
        }
      case "DESCRIBE" | "DESC" =>
        var i = nextNonWs(toks, i0 + 1)
        if (i < toks.length && toks(i).isWord("TABLE")) i = nextNonWs(toks, i + 1)
        val (t, _) = tableNameAt(toks, i)
        import spark.implicits._
        val d = tableDef(cat, t)
        d.columns.map(c => (c.name, c.dataType.sql,
          if (c.nullable) "Nullable" else "", c.default.getOrElse("")))
          .toDF("name", "type", "nullable", "default")
      case "TRUNCATE" =>
        val t = tableNameAt(toks, nextNonWs(toks, skipWord(toks, i0, "TRUNCATE", "TABLE")))._1
        val d = tableDef(cat, t)
        cat.create(t, emptyFrame(spark, d), d.partitionBy)
        emptyResult(spark)
      case "DROP" =>
        var i = nextNonWs(toks, i0 + 1)
        require(i < toks.length && (toks(i).isWord("TABLE") ||
          toks(i).isWord("VIEW") || toks(i).isWord("DATABASE")),
          "ChDdl: expected DROP TABLE, DROP VIEW or DROP DATABASE")
        val isDb = toks(i).isWord("DATABASE")
        i = nextNonWs(toks, i + 1)
        if (i < toks.length && toks(i).isWord("IF")) {
          i = nextNonWs(toks, i + 1); require(toks(i).isWord("EXISTS"),
            "ChDdl: expected DROP ... IF EXISTS")
          i = nextNonWs(toks, i + 1)
        }
        if (isDb) {
          // CH DROP DATABASE removes the tables and their data
          val db = unq(toks(i).text)
          databases.remove(key(cat, db))
          val p = key(cat, db + ".")
          (defs.snapshot().keysIterator ++ mvDefs.snapshot().keysIterator)
            .filter(_.startsWith(p)).toSeq.distinct.foreach { k =>
              val name = k.drop((cat.root + "::").length)
              defs.remove(k); mvDefs.remove(k); seqs.remove(k)
              Catalog.registerWriteOptions(s"${cat.root}/$name", Map.empty)
              cat.drop(name)
            }
          emptyResult(spark)
        } else {
          // CH DROP TABLE removes the data too, so the name can be reused
          val (t, _) = tableNameAt(toks, i)
          defs.remove(key(cat, t)); seqs.remove(key(cat, t))
          mvDefs.remove(key(cat, t))
          Catalog.registerWriteOptions(s"${cat.root}/$t", Map.empty)
          cat.drop(t)
          emptyResult(spark)
        }
      case _ =>
        // SELECT / WITH / anything query-shaped: expose registered
        // tables (and materialized views, merged) as FINAL views, then
        // run through the SELECT dialect
        defs.snapshot().foreach { case (k, d) =>
          if (k.startsWith(cat.root + "::") && tableExists(cat, d.name))
            view(cat, d.name).createOrReplaceTempView(viewName(d.name))
        }
        mvDefs.snapshot().foreach { case (k, m) =>
          if (k.startsWith(cat.root + "::") && tableExists(cat, m.name))
            matViewFinalized(cat, m.name).createOrReplaceTempView(viewName(m.name))
        }
        // CH introspection: `system.parts` (per-part storage facts from
        // Catalog.parts — name/bytes/modified per parquet file),
        // `system.tables` (the registered defs), `system.columns` (the
        // column lattice of every registered def), `system.query_log`
        // (the QueryLog listener's ring). Bound lazily, and the dotted
        // reference re-tokenized to the view name — a STRING containing
        // "system.parts" is a STR token and survives.
        val sysTables = Set("parts", "tables", "columns", "query_log",
          "mutations", "detached_parts")
        var qToks = toks
        var i = 0
        var bound = Set.empty[String]
        while (i < qToks.length) {
          if (qToks(i).isWord("system") && {
            val dot = nextNonWs(qToks, i + 1)
            dot < qToks.length && qToks(dot).text == "." && {
              val w = nextNonWs(qToks, dot + 1)
              w < qToks.length && qToks(w).kind == WORD &&
                sysTables.contains(qToks(w).text.toLowerCase)
            }
          }) {
            val dot = nextNonWs(qToks, i + 1)
            val w = nextNonWs(qToks, dot + 1)
            val which = qToks(w).text.toLowerCase
            if (!bound.contains(which)) {
              bound += which
              val v = which match {
                case "parts" => cat.parts()
                case "tables" => execute(cat, "SHOW TABLES")
                case "query_log" => QueryLog.log(spark)
                // outstanding lightweight-mutation sidecars (a row exists
                // only while undone — the CH is_done poll, inverted)
                case "mutations" => cat.mutations()
                case "detached_parts" => cat.detachedParts()
                case "columns" =>
                  import spark.implicits._
                  val prefix = cat.root + "::"
                  defs.snapshot().toSeq.collect {
                    case (k, d) if k.startsWith(prefix) =>
                      d.columns.zipWithIndex.map { case (c, pos) =>
                        (d.name, c.name, pos + 1, c.dataType.sql,
                          c.nullable, c.default.getOrElse(""))
                      }
                  }.flatten.sortBy(r => (r._1, r._3))
                    .toDF("table", "name", "position", "type",
                      "nullable", "default_expression")
              }
              v.createOrReplaceTempView(s"system_$which")
            }
            qToks = qToks.patch(i,
              Vector(qToks(i).copy(text = s"system_$which")), w - i + 1)
          }
          i += 1
        }
        ChSql.sql(spark, render(qToks))
    }
  }

  /** `db.tbl` is not a valid temp-view name — views register as db_tbl. */
  private def viewName(table: String): String = table.replace('.', '_')

  private def tableExists(cat: Catalog, table: String): Boolean =
    cat.fs.exists(s"${cat.root}/$table")

  private def skipWord(toks: Vector[Tok], at: Int, words: String*): Int = {
    var i = at
    words.foreach { w =>
      require(i < toks.length && toks(i).isWord(w),
        s"ChDdl: expected $w near '${render(toks.drop(i)).take(40)}'")
      i = nextNonWs(toks, i + 1)
    }
    i
  }

  private def tableNameAt(toks: Vector[Tok], at: Int): (String, Int) = {
    var i = at
    require(i < toks.length && (toks(i).kind == WORD || toks(i).kind == STR),
      "ChDdl: expected a table name")
    var name = unq(toks(i).text)
    i = nextNonWs(toks, i + 1)
    if (i < toks.length && toks(i).text == ".") {
      i = nextNonWs(toks, i + 1)
      name = name + "." + unq(toks(i).text)
      i = nextNonWs(toks, i + 1)
    }
    (name, i)
  }

  private def emptyFrame(spark: SparkSession, d: ChTableDef): DataFrame = {
    // the synthetic sequence column only exists when the DDL names no
    // explicit version column (which is already part of the schema)
    val schema =
      if (d.versionCol.isEmpty)
        StructType(d.schema.fields :+ StructField(SeqCol, LongType, nullable = false))
      else d.schema
    // repartition(1): one schema-bearing (zero-row) parquet file, so the
    // freshly created table reads back with its declared schema
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema).repartition(1)
  }

  private def emptyResult(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("status", StringType))))

  private def versionColOf(d: ChTableDef): String =
    d.versionCol.getOrElse(SeqCol)

  /** `RENAME TABLE a TO b`: an all-metadata move (directory rename + def
    * re-key — no data job), the blue/green swap primitive. Materialized
    * views that trigger on the OLD name stop matching, exactly as CH's
    * name-bound matviews do — recreate the view over the new name.
    */
  def renameTable(cat: Catalog, from: String, to: String): Unit = {
    val kFrom = key(cat, from); val kTo = key(cat, to)
    require(!defs.contains(kTo) && !mvDefs.contains(kTo) && !tableExists(cat, to),
      s"ChDdl: RENAME target '$to' already exists")
    require(defs.contains(kFrom) || mvDefs.contains(kFrom),
      s"ChDdl: unknown table '$from'")
    // outstanding lightweight mutations reference data files by their
    // ABSOLUTE path, and every entry goes stale when the table dir
    // moves — the fail-closed read then degrades to the tagged plan
    // where stale entries filter NOTHING, silently reverting the
    // deletes/updates. Same rule (and fix) as every partition op:
    // OPTIMIZE folds the sidecars first, then the rename is pure
    // metadata again. (Found by the r15 manifest rename spec.)
    require(!tableExists(cat, from) ||
      (!cat.hasDeletes(from) && !cat.hasPatches(from)),
      s"ChDdl: table '$from' has outstanding lightweight mutations — " +
        "OPTIMIZE it first, then RENAME (path-based sidecar entries " +
        "cannot survive a table-directory move)")
    if (tableExists(cat, from))
      cat.fs.move(s"${cat.root}/$from", s"${cat.root}/$to")
    defs.remove(kFrom).foreach(d => defs.put(kTo, d.copy(name = to)))
    mvDefs.remove(kFrom).foreach(m => mvDefs.put(kTo, m.copy(name = to)))
    seqs.remove(kFrom).foreach(s => seqs.put(kTo, s))
    Catalog.writeOptions.remove(s"${cat.root}/$from")
      .foreach(o => Catalog.writeOptions.put(s"${cat.root}/$to", o))
    defs.get(kTo).flatMap(_.sampleBy).foreach { sb =>
      ChSql.registerSampleKey(to, sb)
      ChSql.registerSampleKey(viewName(to), sb)
    }
  }

  /** `CREATE TABLE t ENGINE = E [ORDER BY k] [PARTITION BY p] AS
    * SELECT ...` — CTAS: schema inferred from the SELECT (run through
    * the dialect with all registered tables visible as FINAL views),
    * result written as the initial contents.
    */
  private def createTableAs(cat: Catalog, toks: Vector[Tok], i0: Int): DataFrame = {
    var i = skipWord(toks, i0, "CREATE", "TABLE")
    var ifNotExists = false
    if (i < toks.length && toks(i).isWord("IF")) {
      i = nextNonWs(toks, i + 1)
      require(i < toks.length && toks(i).isWord("NOT"), "ChDdl: expected IF NOT EXISTS")
      i = nextNonWs(toks, i + 1)
      require(i < toks.length && toks(i).isWord("EXISTS"), "ChDdl: expected IF NOT EXISTS")
      i = nextNonWs(toks, i + 1)
      ifNotExists = true
    }
    val (name, afterName) = tableNameAt(toks, i)
    i = afterName
    var engine = "MergeTree"
    var orderBy = Seq.empty[String]
    var partitionBy = Seq.empty[String]
    var selStart = -1
    def clauseEnd(from: Int): Int = {
      val stops = Set("ENGINE", "ORDER", "PARTITION", "AS")
      var e = from
      while (e < toks.length && !(toks(e).kind == WORD && toks(e).depth == 0 &&
        stops.contains(toks(e).text.toUpperCase))) e += 1
      e
    }
    def keyList(from: Int, to: Int): Seq[String] = {
      val txt = render(toks.slice(from, to)).trim
      val body = if (txt.startsWith("(") && txt.endsWith(")"))
        txt.substring(1, txt.length - 1) else txt
      if (body.trim.isEmpty) Nil else body.split(",").map(s => unq(s.trim)).toSeq
    }
    while (i < toks.length && selStart < 0) {
      toks(i).text.toUpperCase match {
        case "ENGINE" =>
          i = nextNonWs(toks, i + 1)
          require(toks(i).text == "=", "ChDdl: expected ENGINE = ...")
          i = nextNonWs(toks, i + 1)
          engine = unq(toks(i).text)
          i = nextNonWs(toks, i + 1)
        case "ORDER" =>
          i = nextNonWs(toks, i + 1)
          require(toks(i).isWord("BY"), "ChDdl: ORDER not followed by BY")
          val e = clauseEnd(nextNonWs(toks, i + 1))
          orderBy = keyList(nextNonWs(toks, i + 1), e); i = e
        case "PARTITION" =>
          i = nextNonWs(toks, i + 1)
          require(toks(i).isWord("BY"), "ChDdl: PARTITION not followed by BY")
          val e = clauseEnd(nextNonWs(toks, i + 1))
          partitionBy = keyList(nextNonWs(toks, i + 1), e); i = e
        case "AS" => selStart = nextNonWs(toks, i + 1)
        case other => throw new IllegalArgumentException(
          s"ChDdl: unexpected CTAS clause '$other' — supported: ENGINE, " +
            "ORDER BY, PARTITION BY, AS SELECT")
      }
    }
    require(selStart > 0 && selStart < toks.length,
      "ChDdl: CREATE TABLE without a column list needs AS SELECT ...")
    val k = key(cat, name)
    if (defs.contains(k) || tableExists(cat, name)) {
      require(ifNotExists,
        s"ChDdl: table $name already exists (no IF NOT EXISTS)")
      return emptyResult(cat.spark)
    }
    require(!engine.toLowerCase.contains("replacing"),
      "ChDdl: CTAS onto ReplacingMergeTree is not supported — declare " +
        "the column list (the version column needs a declared type)")
    // the SELECT runs through execute's fall-through (FINAL views bound)
    val result = execute(cat, render(toks.drop(selStart)))
    val columns = result.schema.fields.map(f =>
      ColumnDef(f.name, f.dataType, f.nullable, None)).toSeq
    val d = ChTableDef(name, columns, engine, replacing = false, None,
      orderBy, partitionBy, None, None, Nil, Nil)
    defs.put(k, d)
    seqs.put(k, new java.util.concurrent.atomic.AtomicLong(0L))
    cat.create(name, result.withColumn(SeqCol, lit(0L)), partitionBy)
    emptyResult(cat.spark)
  }

  def createTable(cat: Catalog, text: String): DataFrame = {
    // two CREATE TABLE forms: a column list '(' after the name, or CTAS
    val toks0 = lex(text)
    var ci = skipWord(toks0, nextNonWs(toks0, 0), "CREATE", "TABLE")
    if (ci < toks0.length && toks0(ci).isWord("IF")) {
      ci = nextNonWs(toks0, ci + 1) // NOT
      ci = nextNonWs(toks0, ci + 1) // EXISTS
      ci = nextNonWs(toks0, ci + 1)
    }
    val (_, afterName) = tableNameAt(toks0, ci)
    if (!(afterName < toks0.length && toks0(afterName).text == "("))
      return createTableAs(cat, toks0, nextNonWs(toks0, 0))

    val (d, ifNotExists) = parseCreate(text)
    // bloom_filter/set skip indexes → parquet column blooms on EVERY
    // write to this table (including mutation rewrites); registered
    // before the first write so the initial layout already carries them
    val bloomOpts = d.skipIndexes
      .filter(si => si.indexType == "bloom_filter" || si.indexType == "set")
      .flatMap { si =>
        require(d.columns.exists(_.name == si.column),
          s"ChDdl: skip index ${si.name} references unknown column '${si.column}'")
        // dictionary encoding is disabled on the indexed column:
        // parquet-mr SKIPS bloom emission for fully-dictionary-encoded
        // chunks (the dictionary already answers point predicates), so a
        // declared bloom would silently never materialize below the
        // dictionary-size threshold — and a column someone declares a
        // bloom_filter index on is high-cardinality by intent (CH docs
        // give the same guidance), where the dictionary lapses anyway
        Seq(s"parquet.bloom.filter.enabled#${si.column}" -> "true",
          s"parquet.bloom.filter.expected.ndv#${si.column}" -> "8192",
          s"parquet.enable.dictionary#${si.column}" -> "false") ++
          si.fpp.map(f => s"parquet.bloom.filter.fpp#${si.column}" -> f.toString)
      }.toMap
    Catalog.registerWriteOptions(s"${cat.root}/${d.name}", bloomOpts)
    val k = key(cat, d.name)
    if (defs.contains(k) || tableExists(cat, d.name)) {
      require(ifNotExists,
        s"ChDdl: table ${d.name} already exists (no IF NOT EXISTS)")
      if (!defs.contains(k)) defs.put(k, d)
    } else {
      defs.put(k, d)
      cat.create(d.name, emptyFrame(cat.spark, d), d.partitionBy)
    }
    // resume the implicit version from what the table dir already holds
    // (hasData, not dir existence: an empty partitioned table has no
    // parquet files to read a max from)
    val start =
      if (d.versionCol.isEmpty && hasData(cat, d.name)) {
        val df = cat.readRaw(d.name)
        if (df.isEmpty || !df.columns.contains(SeqCol)) 0L
        else df.agg(max(col(SeqCol))).collect()(0).getLong(0)
      } else 0L
    seqs.put(k, new java.util.concurrent.atomic.AtomicLong(start))
    d.sampleBy.foreach(sb => ChSql.registerSampleKey(d.name, sb))
    d.sampleBy.foreach(sb => ChSql.registerSampleKey(viewName(d.name), sb))
    emptyResult(cat.spark)
  }

  // ---- materialized views ----------------------------------------------

  private val mvBindSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Rewrite the stored AS-SELECT so its base-table references (the word
    * after FROM/JOIN, at any depth — subqueries included) point at a
    * bound temp view holding one inserted block. Token-level: a column
    * that shares the base's name is never after FROM/JOIN and survives.
    */
  private def bindBase(selectText: String, base: String, bound: String): String = {
    val parts = base.split("\\.")
    var toks = lex(selectText)
    var i = 0
    while (i < toks.length) {
      if (toks(i).isWord("FROM") || toks(i).isWord("JOIN")) {
        val a = nextNonWs(toks, i + 1)
        if (a < toks.length && (toks(a).kind == WORD || toks(a).kind == STR)) {
          if (parts.length == 1 && unq(toks(a).text).equalsIgnoreCase(parts(0)))
            toks = toks.updated(a, toks(a).copy(text = bound, kind = WORD))
          else if (parts.length == 2 && unq(toks(a).text).equalsIgnoreCase(parts(0))) {
            val dot = nextNonWs(toks, a + 1)
            val b = if (dot < toks.length) nextNonWs(toks, dot + 1) else toks.length
            if (dot < toks.length && toks(dot).text == "." && b < toks.length &&
                unq(toks(b).text).equalsIgnoreCase(parts(1)))
              toks = toks.patch(a,
                Vector(toks(a).copy(text = bound, kind = WORD)), b - a + 1)
          }
        }
      }
      i += 1
    }
    render(toks)
  }

  /** Run a matview's AS-SELECT over one source frame (an inserted block,
    * or the base FINAL view for POPULATE).
    */
  private def runMvSelect(cat: Catalog, m: MatViewDef, src: DataFrame): DataFrame = {
    val bound = s"__mv_src_${mvBindSeq.incrementAndGet()}"
    src.createOrReplaceTempView(bound)
    ChSql.sql(cat.spark, bindBase(m.selectText, m.baseTable, bound))
  }

  def parseCreateMatView(text: String): (MatViewDef, Boolean, Boolean) = {
    val toks = lex(text)
    var i = nextNonWs(toks, 0)
    def word(at: Int): String = { require(at < toks.length &&
      (toks(at).kind == WORD || toks(at).kind == STR),
      s"ChDdl: expected identifier near '${render(toks.drop(at)).take(40)}'")
      unq(toks(at).text) }
    def eat(w: String): Unit = {
      require(i < toks.length && toks(i).isWord(w),
        s"ChDdl: expected $w near '${render(toks.drop(i)).take(40)}'")
      i = nextNonWs(toks, i + 1)
    }
    eat("CREATE"); eat("MATERIALIZED"); eat("VIEW")
    var ifNotExists = false
    if (toks(i).isWord("IF")) {
      eat("IF"); eat("NOT"); eat("EXISTS"); ifNotExists = true
    }
    val (name, afterName) = tableNameAt(toks, i)
    i = afterName
    if (i < toks.length && toks(i).isWord("TO"))
      throw new UnsupportedOperationException(
        "ChDdl: CREATE MATERIALIZED VIEW ... TO <table> routing is not " +
          "supported — the view owns its storage; SELECT from the view")
    eat("ENGINE")
    require(i < toks.length && toks(i).text == "=", "ChDdl: expected ENGINE = ...")
    i = nextNonWs(toks, i + 1)
    val engine = word(i)
    require(engine.equalsIgnoreCase("SummingMergeTree") ||
      engine.equalsIgnoreCase("AggregatingMergeTree"),
      s"ChDdl: materialized-view engine $engine not supported — " +
        "SummingMergeTree or AggregatingMergeTree")
    i = nextNonWs(toks, i + 1)
    if (i < toks.length && toks(i).text == "(") { // engine args: none valid
      val c = nextNonWs(toks, i + 1)
      require(c < toks.length && toks(c).text == ")",
        "ChDdl: SummingMergeTree(columns...) partial-sum column lists are " +
          "not supported — every non-key column is summed")
      i = nextNonWs(toks, c + 1)
    }
    eat("ORDER"); eat("BY")
    // key list runs to POPULATE / AS
    var e = i
    while (e < toks.length && !(toks(e).depth == 0 &&
      (toks(e).isWord("POPULATE") || toks(e).isWord("AS")))) e += 1
    val keyTxt = render(toks.slice(i, e)).trim
    val body = if (keyTxt.startsWith("(") && keyTxt.endsWith(")"))
      keyTxt.substring(1, keyTxt.length - 1) else keyTxt
    val orderBy = body.split(",").map(s => unq(s.trim)).toSeq
    require(orderBy.nonEmpty && orderBy.forall(_.nonEmpty),
      "ChDdl: materialized view needs ORDER BY keys")
    i = e
    var populate = false
    if (i < toks.length && toks(i).isWord("POPULATE")) {
      populate = true; i = nextNonWs(toks, i + 1)
    }
    require(i < toks.length && toks(i).isWord("AS"),
      "ChDdl: materialized view needs AS SELECT ...")
    i = nextNonWs(toks, i + 1)
    val selToks = toks.drop(i)
    val selectText = render(selToks).trim
    require(selToks.nonEmpty && (selToks.head.isWord("SELECT") ||
      selToks.head.isWord("WITH")),
      "ChDdl: expected AS SELECT ...")
    // base table: the first depth-0 FROM of the select
    var f = 0
    while (f < selToks.length && !(selToks(f).isWord("FROM") &&
      selToks(f).depth == 0)) f += 1
    require(f < selToks.length,
      "ChDdl: could not find the view's FROM clause")
    val (base, _) = tableNameAt(selToks.toVector, nextNonWs(selToks.toVector, f + 1))
    // AggregatingMergeTree: map each -State select item's alias to its
    // state kind so reads know the per-column merge rule
    val StateFns = Map("uniqexactstate" -> "uniq", "sumstate" -> "sum",
      "countstate" -> "count", "minstate" -> "min", "maxstate" -> "max",
      "avgstate" -> "avg", "quantileexactstate" -> "quantile",
      "topkstate" -> "topk")
    val states = Map.newBuilder[String, String]
    if (engine.equalsIgnoreCase("AggregatingMergeTree")) {
      val sv = selToks.toVector
      val items = splitTop(sv, nextNonWs(sv, 1), f, 0)
      items.foreach { case (from, to) =>
        val item = sv.slice(from, to)
        val fnIdx = item.indexWhere(t => t.kind == WORD &&
          StateFns.contains(t.text.toLowerCase))
        if (fnIdx >= 0) {
          val asIdx = item.lastIndexWhere(t => t.depth == 0 && t.isWord("AS"))
          require(asIdx > fnIdx,
            s"ChDdl: -State select items need an alias " +
              s"(${render(item).trim} AS name)")
          val alias = unq(render(item.drop(asIdx + 1)).trim)
          states += (alias -> StateFns(item(fnIdx).text.toLowerCase))
        }
      }
      require(states.result().nonEmpty,
        "ChDdl: an AggregatingMergeTree view needs at least one -State " +
          "select item (uniqExactState/sumState/countState/minState/" +
          "maxState/avgState/quantileExactState/topKState)")
    }
    (MatViewDef(name, orderBy, selectText, base, engine, states.result()),
      ifNotExists, populate)
  }

  def createMatView(cat: Catalog, text: String): DataFrame = {
    val (m, ifNotExists, populate) = parseCreateMatView(text)
    val k = key(cat, m.name)
    if (mvDefs.contains(k) || tableExists(cat, m.name)) {
      require(ifNotExists,
        s"ChDdl: materialized view ${m.name} already exists (no IF NOT EXISTS)")
      if (!mvDefs.contains(k)) mvDefs.put(k, m)
      return emptyResult(cat.spark)
    }
    require(!defs.contains(k),
      s"ChDdl: ${m.name} already names a table")
    // source of the initial storage: the whole base FINAL view when
    // POPULATE, its empty slice (schema only) otherwise — CH semantics:
    // without POPULATE, rows inserted before the view exist are absent
    val src = if (populate) view(cat, m.baseTable)
              else view(cat, m.baseTable).limit(0)
    val initial = runMvSelect(cat, m, src)
    m.orderBy.foreach(kc => require(initial.columns.contains(kc),
      s"ChDdl: ORDER BY key '$kc' is not a column of the view's SELECT"))
    mvDefs.put(k, m)
    // the schema-only (no POPULATE) frame must repartition(1): an empty
    // multi-partition write emits zero parquet files and the table would
    // read back schemaless; a POPULATE backfill keeps its natural layout
    cat.create(m.name, if (populate) initial else initial.repartition(1))
    emptyResult(cat.spark)
  }

  /** The merged FINAL read of a materialized view: group by the ORDER BY
    * key and merge every other column by the engine's rule — Summing
    * sums; Aggregating applies the per-column -State merge recorded at
    * CREATE (uniq = distinct-union of the sorted value sets, avg = sum
    * the (s, c) struct fields, sum/count/min/max = their own partials).
    * Declared column order and types preserved. The merge is associative
    * and idempotent on merged output, so OPTIMIZE may materialize it and
    * later blocks keep merging.
    */
  def matViewFinal(cat: Catalog, name: String): DataFrame = {
    val m = mvDefs.getOrElse(key(cat, name), throw new IllegalArgumentException(
      s"ChDdl: unknown materialized view '$name'"))
    val raw = cat.readRaw(m.name)
    val others = raw.schema.fields.filterNot(f => m.orderBy.contains(f.name))
    require(others.nonEmpty,
      s"ChDdl: materialized view ${m.name} has no mergeable columns")
    val aggs: Seq[Column] =
      if (m.engine.equalsIgnoreCase("AggregatingMergeTree")) {
        others.toSeq.map { f =>
          m.states.get(f.name) match {
            case Some("uniq") =>
              array_sort(array_distinct(flatten(collect_list(col(f.name)))))
                .as(f.name)
            case Some("avg") =>
              val st = f.dataType.asInstanceOf[StructType]
              struct(
                sum(col(f.name).getField("s")).cast(st("s").dataType).as("s"),
                sum(col(f.name).getField("c")).cast(st("c").dataType).as("c"))
                .as(f.name)
            case Some("sum") | Some("count") =>
              sum(col(f.name)).cast(f.dataType).as(f.name)
            case Some("min") => min(col(f.name)).as(f.name)
            case Some("max") => max(col(f.name)).as(f.name)
            case Some("quantile") => // multiset union; the level is constant
              struct(
                array_sort(flatten(collect_list(col(f.name).getField("vs"))))
                  .as("vs"),
                min(col(f.name).getField("q")).as("q")).as(f.name)
            case Some("topk") => // sum counts per value; k is constant
              struct(
                org.apache.spark.sql.graft.Bridge.toColumn(
                  org.apache.spark.sql.graft.MergeCountPairs(
                    org.apache.spark.sql.graft.Bridge.toExpr(
                      col(f.name).getField("vs"))).toAggregateExpression())
                  .as("vs"),
                min(col(f.name).getField("k")).as("k")).as(f.name)
            case other => throw new IllegalArgumentException(
              s"ChDdl: column '${f.name}' of ${m.name} has no -State rule " +
                s"($other) — AggregatingMergeTree selects must wrap every " +
                "non-key column in a -State combinator")
          }
        }
      } else {
        val nonNum = others.filterNot(_.dataType.isInstanceOf[NumericType])
        require(nonNum.isEmpty,
          s"ChDdl: SummingMergeTree sums every non-key column — non-numeric " +
            s"column(s) ${nonNum.map(_.name).mkString(", ")} are not summable; " +
            "add them to ORDER BY or drop them from the SELECT")
        others.toSeq.map(f => sum(col(f.name)).cast(f.dataType).as(f.name))
      }
    raw.groupBy(m.orderBy.map(col): _*).agg(aggs.head, aggs.tail: _*)
      .select(raw.columns.map(col).toSeq: _*)
  }

  /** The FINALIZED read of an AggregatingMergeTree view: merged states
    * converted to their values (uniq → cardinality, avg → s/c in double,
    * the rest are already final). CH makes readers write -Merge
    * combinators; this engine pre-finalizes the registered view — the
    * value a dashboard query wants (documented divergence). Summing
    * views finalize to themselves.
    */
  def matViewFinalized(cat: Catalog, name: String): DataFrame = {
    val m = mvDefs.getOrElse(key(cat, name), throw new IllegalArgumentException(
      s"ChDdl: unknown materialized view '$name'"))
    val merged = matViewFinal(cat, name)
    if (!m.engine.equalsIgnoreCase("AggregatingMergeTree")) merged
    else merged.select(merged.columns.toSeq.map { c =>
      m.states.get(c) match {
        case Some("uniq") => size(col(c)).cast("long").as(c)
        case Some("avg") =>
          (col(c).getField("s").cast("double") / col(c).getField("c")).as(c)
        case Some("quantile") =>
          // type-1 inverse CDF over the merged multiset: the element at
          // rank ceil(q*n) (>= 1) — DuckDB quantile_disc semantics. A key
          // whose inputs were all NULL merges to an EMPTY multiset
          // (CollectList skips nulls): finalize to NULL — the SQL
          // aggregate convention — instead of letting element_at(empty, 1)
          // raise under Spark 4's default ANSI mode.
          when(size(col(c).getField("vs")) === 0, lit(null))
            .otherwise(element_at(col(c).getField("vs"),
              greatest(lit(1),
                ceil(col(c).getField("q") * size(col(c).getField("vs")))
                  .cast("int")))).as(c)
        case Some("topk") =>
          // k most frequent values, count desc then value asc (the exact
          // topK family's deterministic tie order, q163)
          transform(
            slice(
              array_sort(col(c).getField("vs"), (a, b) =>
                when(a.getField("c") > b.getField("c"), -1)
                  .when(a.getField("c") < b.getField("c"), 1)
                  .when(a.getField("v") < b.getField("v"), -1)
                  .when(a.getField("v") > b.getField("v"), 1)
                  .otherwise(0)),
              lit(1), col(c).getField("k").cast("int")),
            p => p.getField("v")).as(c)
        case _ => col(c)
      }
    }: _*)
  }

  /** The CH `SELECT ... FROM t FINAL` read: replacing engines dedup by
    * sort key keeping the highest version; plain MergeTree reads raw.
    */
  def view(cat: Catalog, table: String): DataFrame = {
    val d = tableDef(cat, table)
    // an empty PARTITIONED table has no `col=value` dirs and no parquet
    // files to infer from (the empty create writes none) — serve the
    // declared schema directly until the first insert lands
    if (!hasData(cat, d.name)) {
      val spark = cat.spark
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], d.schema)
    }
    val base =
      if (d.replacing && d.orderBy.nonEmpty)
        cat.read(d.name, d.orderBy, versionColOf(d))
      else cat.readRaw(d.name)
    // Hive-style partitioned reads move the partition column to the END
    // of the inferred schema — re-project to the DECLARED column order
    // so reads are layout-independent
    (if (d.versionCol.isEmpty) base.drop(SeqCol) else base)
      .select(d.columns.map(c => col(c.name)): _*)
  }

  // sidecar (_deletes/_patches) parquet is mutation state, not data —
  // the shared FsOps.isDataFile rule decides
  private def hasData(cat: Catalog, table: String): Boolean =
    cat.fs.dataFilesUnder(s"${cat.root}/$table").nonEmpty

  private def insert(cat: Catalog, toks: Vector[Tok], i0: Int): DataFrame = {
    val spark = cat.spark
    var i = skipWord(toks, i0, "INSERT", "INTO")
    val (t, after) = tableNameAt(toks, i)
    val d = tableDef(cat, t)
    i = after
    // optional (col list)
    var cols: Seq[String] = d.columns.map(_.name)
    if (i < toks.length && toks(i).text == "(") {
      var e = i + 1
      val cs = Vector.newBuilder[String]
      while (e < toks.length && toks(e).text != ")") {
        if (toks(e).kind == WORD || toks(e).kind == STR) cs += unq(toks(e).text)
        e += 1
      }
      cols = cs.result()
      i = nextNonWs(toks, e + 1)
    }
    val src: DataFrame =
      if (i < toks.length && toks(i).isWord("VALUES")) {
        // CH array literals use [..]; Spark VALUES needs array(..).
        // Token-level replacement — brackets inside string literals are
        // STR tokens and survive untouched.
        val tail = render(toks.drop(i + 1).map { tk =>
          if (tk.kind == SYM && tk.text == "[") tk.copy(text = "array(")
          else if (tk.kind == SYM && tk.text == "]") tk.copy(text = ")")
          else tk
        }).trim
        spark.sql(s"SELECT * FROM VALUES $tail AS __v(${cols.map(c => s"`$c`").mkString(", ")})")
      } else if (i < toks.length &&
          (toks(i).isWord("SELECT") || toks(i).isWord("WITH") ||
            toks(i).isWord("FORMAT"))) {
        require(!toks(i).isWord("FORMAT"),
          "ChDdl: INSERT ... FORMAT <data> inline payloads are transport " +
            "features — load via SourceCatalog (JSONEachRow/CSV) and " +
            "INSERT ... SELECT from the loaded frame")
        ChSql.sql(spark, render(toks.drop(i)))
      } else throw new IllegalArgumentException(
        "ChDdl: INSERT expects VALUES or SELECT")
    require(src.columns.length == cols.length,
      s"ChDdl: INSERT column count mismatch — statement names ${cols.length}, " +
        s"source provides ${src.columns.length}")
    val provided = cols.zip(src.columns).toMap
    val byName = d.columns.map { c =>
      provided.get(c.name) match {
        case Some(srcCol) => src.col(srcCol).cast(widenType(c.dataType)).as(c.name)
        case None => c.default match {
          case Some(dflt) => expr(dflt).cast(widenType(c.dataType)).as(c.name)
          case None => lit(null).cast(widenType(c.dataType)).as(c.name)
        }
      }
    }
    val unknown = cols.filterNot(c => d.columns.exists(_.name == c))
    require(unknown.isEmpty,
      s"ChDdl: INSERT names unknown column(s): ${unknown.mkString(", ")}")
    var aligned = src.select(byName: _*)
    // one aggregate job checks ALL constraints
    if (d.constraints.nonEmpty) {
      val aggs = d.constraints.map { case (n, e) =>
        sum(when(!coalesce(expr(normalize(e)), lit(false)), 1L).otherwise(0L)).as(n)
      }
      val row = aligned.agg(aggs.head, aggs.tail: _*).collect()(0)
      d.constraints.zipWithIndex.foreach { case ((n, e), idx) =>
        val bad = if (row.isNullAt(idx)) 0L else row.getLong(idx)
        require(bad == 0L,
          s"ChDdl: constraint $n violated by $bad row(s): CHECK $e")
      }
    }
    if (d.versionCol.isEmpty) {
      val seq = seqs.getOrElseUpdate(key(cat, t),
        new java.util.concurrent.atomic.AtomicLong(0L))
      aligned = aligned.withColumn(SeqCol, lit(seq.incrementAndGet()))
    }
    cat.append(d.name, aligned, d.partitionBy)
    // CH materialized-view trigger semantics: each view's SELECT runs
    // over the INSERTED BLOCK only (never the whole base), its result
    // appended to the view's own storage
    mvDefs.snapshot().foreach { case (k, m) =>
      if (k.startsWith(cat.root + "::") && m.baseTable.equalsIgnoreCase(t))
        cat.append(m.name, runMvSelect(cat, m, aligned))
    }
    emptyResult(spark)
  }

  /** Nullability-widened cast target: Spark refuses ARRAY<T>
    * nullable-element -> non-null-element casts, and parquet always
    * reads elements nullable.
    */
  private def widenType(dt: DataType): DataType = dt match {
    case ArrayType(e, _) => ArrayType(widenType(e), containsNull = true)
    case MapType(k, v, _) => MapType(widenType(k), widenType(v), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = widenType(f.dataType), nullable = true)))
    case other => other
  }

  /** A partition address at `at`: a single quoted/numeric value, or a
    * NON-EMPTY tuple `('v1', 'v2')` with strict comma alternation (an
    * empty tuple would silently widen a scoped statement to the whole
    * table; consecutive commas are parse errors, not skips). Returns
    * (values, index past the address).
    */
  private def partitionAddressAt(toks: Vector[Tok], at: Int,
      what: String): (Seq[String], Int) = {
    require(at < toks.length, s"ChDdl: $what needs a value")
    def isValue(t: Tok) = t.kind == STR || t.kind == NUM || t.kind == WORD
    if (toks(at).text == "(") {
      val vals = Vector.newBuilder[String]
      var j = nextNonWs(toks, at + 1)
      var expectValue = true
      var n = 0
      while (j < toks.length && toks(j).text != ")") {
        if (expectValue) {
          require(isValue(toks(j)),
            s"ChDdl: bad $what tuple near '${toks(j).text}'")
          vals += unqStr(toks(j).text)
          n += 1
        } else require(toks(j).text == ",",
          s"ChDdl: bad $what tuple near '${toks(j).text}'")
        expectValue = !expectValue
        j = nextNonWs(toks, j + 1)
      }
      require(j < toks.length, s"ChDdl: $what tuple missing ')'")
      require(n > 0, s"ChDdl: $what tuple is empty")
      require(!expectValue, s"ChDdl: $what tuple has a trailing comma")
      (vals.result(), nextNonWs(toks, j + 1))
    } else {
      require(isValue(toks(at)), s"ChDdl: $what needs a quoted value")
      (Seq(unqStr(toks(at).text)), nextNonWs(toks, at + 1))
    }
  }

  /** `IN PARTITION 'v'` / `IN PARTITION ('v1', 'v2')` at `at`: the
    * addressed values, bound by callers to the table's declared
    * partitionBy prefix (single value = first level / whole subtree,
    * tuple = a deeper leaf — the same addressing the ALTER ... PARTITION
    * verbs take). `(None, at)` when no IN PARTITION sits at `at`.
    */
  private def inPartitionValuesAt(toks: Vector[Tok], at: Int,
      d: ChTableDef): (Option[Seq[String]], Int) =
    if (at < toks.length && toks(at).isWord("IN") && {
      val n = nextNonWs(toks, at + 1)
      n < toks.length && toks(n).isWord("PARTITION")
    }) {
      val v = nextNonWs(toks, nextNonWs(toks, at + 1) + 1)
      require(d.partitionBy.nonEmpty,
        s"ChDdl: ${d.name} declares no PARTITION BY")
      val (values, after) = partitionAddressAt(toks, v, "IN PARTITION")
      require(values.length <= d.partitionBy.length,
        s"ChDdl: IN PARTITION (${values.mkString(", ")}) has " +
          s"${values.length} value(s) but ${d.name} is partitioned by " +
          s"(${d.partitionBy.mkString(", ")})")
      (Some(values), after)
    } else (None, at)

  /** CH's zero value for a non-Nullable column with no DEFAULT — the
    * CLEAR COLUMN reset target: 0 for numbers, '' for strings, false,
    * epoch for dates/times, the empty array.
    */
  private def typeZero(dt: DataType): Column = dt match {
    case StringType => lit("")
    case BooleanType => lit(false)
    case _: NumericType => lit(0).cast(dt)
    // numeric->date casts are forbidden since Spark 3.0; epoch literal
    case DateType => lit(java.sql.Date.valueOf("1970-01-01"))
    case TimestampType => lit(0).cast(dt) // seconds since epoch: allowed
    case ArrayType(_, _) => array().cast(widenType(dt))
    case other => lit(null).cast(widenType(other))
  }

  private def normalize(e: String): String = ChSql.rewrite(e)

  private def alter(cat: Catalog, toks: Vector[Tok], i0: Int): DataFrame = {
    val spark = cat.spark
    var i = skipWord(toks, i0, "ALTER", "TABLE")
    val (t, after) = tableNameAt(toks, i)
    val d = tableDef(cat, t)
    i = after
    require(i < toks.length, "ChDdl: ALTER TABLE needs an action")
    // CH partition-manipulation family: DROP/DETACH/ATTACH/REPLACE/MOVE
    // PARTITION — all O(directory move/copy), never a data rewrite (the
    // restatement workflow: recompute a day in staging, swap it in).
    val partitionVerb = Set("DROP", "DETACH", "ATTACH", "REPLACE", "MOVE")
      .contains(toks(i).text.toUpperCase) && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("PARTITION")
    }
    if (partitionVerb) {
      val verb = toks(i).text.toUpperCase
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1) // past PARTITION
      // partition address: 'v' (first-level subtree) or ('v1', 'v2') — a
      // LEAF of a composite layout, the same depth mutations prune to
      // (q233); values bind to the declared partitionBy prefix in order
      val (values, afterVals) =
        partitionAddressAt(toks, i, s"$verb PARTITION")
      i = afterVals
      require(d.partitionBy.nonEmpty,
        s"ChDdl: ${d.name} declares no PARTITION BY")
      require(values.length <= d.partitionBy.length,
        s"ChDdl: PARTITION (${values.mkString(", ")}) has ${values.length} " +
          s"value(s) but ${d.name} is partitioned by " +
          s"(${d.partitionBy.mkString(", ")})")
      val segs = d.partitionBy.take(values.length).zip(values)
      // cross-table ops require IDENTICAL declared partition keys — the
      // FULL sequence, not just the addressed prefix (CH's identical-
      // structure rule; a day= subtree moved into a day-only table would
      // otherwise create a mixed-depth layout that breaks partition
      // discovery). The declared key governs even for still-empty tables
      // (the empty-create layout trap).
      def otherTable(kw: String): String = {
        require(i < toks.length && toks(i).isWord(kw),
          s"ChDdl: expected $kw <table> after $verb PARTITION '<v>'")
        val (o, _) = tableNameAt(toks, nextNonWs(toks, i + 1))
        val od = tableDef(cat, o)
        require(od.partitionBy == d.partitionBy,
          s"ChDdl: ${od.name} is partitioned by " +
            s"(${od.partitionBy.mkString(", ")}), ${d.name} by " +
            s"(${d.partitionBy.mkString(", ")}) — partition ops need " +
            "identical declared keys")
        od.name
      }
      verb match {
        case "DROP" => cat.dropPartition(d.name, segs)
        case "DETACH" => cat.detachPartition(d.name, segs)
        case "ATTACH" =>
          if (i < toks.length && toks(i).isWord("FROM"))
            cat.attachPartitionFrom(d.name, otherTable("FROM"), segs,
              replace = false)
          else cat.attachPartition(d.name, segs)
        case "REPLACE" =>
          cat.attachPartitionFrom(d.name, otherTable("FROM"), segs,
            replace = true)
        case "MOVE" =>
          // MOVE PARTITION v TO TABLE dst
          require(i < toks.length && toks(i).isWord("TO"),
            "ChDdl: expected MOVE PARTITION '<v>' TO TABLE <t>")
          i = nextNonWs(toks, i + 1)
          require(i < toks.length && toks(i).isWord("TABLE"),
            "ChDdl: expected MOVE PARTITION '<v>' TO TABLE <t>")
          val od = tableDef(cat, tableNameAt(toks, nextNonWs(toks, i + 1))._1)
          require(od.partitionBy == d.partitionBy,
            s"ChDdl: ${od.name} is partitioned by " +
              s"(${od.partitionBy.mkString(", ")}), ${d.name} by " +
              s"(${d.partitionBy.mkString(", ")}) — partition ops need " +
              "identical declared keys")
          cat.movePartitionTo(d.name, od.name, segs)
      }
      return emptyResult(spark)
    }
    // optional CH `IN PARTITION 'v'` scope for DELETE/UPDATE mutations:
    // the mutation applies ONLY inside that partition (conjoined onto the
    // predicate, which also hands mutatePruned the pruning conjunct)
    def inPartitionPred(at: Int): (Option[Column], Int) = {
      val (vs, after) = inPartitionValuesAt(toks, at, d)
      (vs.map(values => d.partitionBy.take(values.length).zip(values)
        .map { case (c, vv) => col(c) === lit(vv) }.reduce(_ && _)), after)
    }
    if (toks(i).isWord("FREEZE")) {
      // ALTER TABLE t FREEZE [PARTITION p] [WITH NAME 'n'] — snapshot
      // to the _shadow backup area (a copy; CH hardlinks)
      var j = nextNonWs(toks, i + 1)
      val (vals, afterVals) =
        if (j < toks.length && toks(j).isWord("PARTITION"))
          partitionAddressAt(toks, nextNonWs(toks, j + 1),
            "FREEZE PARTITION") match { case (v, a) => (Some(v), a) }
        else (None, j)
      var name: Option[String] = None
      j = afterVals
      if (j < toks.length && toks(j).isWord("WITH")) {
        j = nextNonWs(toks, j + 1)
        require(j < toks.length && toks(j).isWord("NAME"),
          "ChDdl: expected FREEZE ... WITH NAME '<n>'")
        j = nextNonWs(toks, j + 1)
        require(j < toks.length, "ChDdl: expected FREEZE ... WITH NAME '<n>'")
        name = Some(unqStr(toks(j).text))
        j = nextNonWs(toks, j + 1)
      }
      require(j >= toks.length,
        "ChDdl: unexpected trailing tokens after FREEZE")
      val segs = vals.map { v =>
        require(d.partitionBy.nonEmpty,
          s"ChDdl: ${d.name} declares no PARTITION BY")
        require(v.length <= d.partitionBy.length,
          s"ChDdl: FREEZE PARTITION (${v.mkString(", ")}) has " +
            s"${v.length} value(s) but ${d.name} is partitioned by " +
            s"(${d.partitionBy.mkString(", ")})")
        d.partitionBy.take(v.length).zip(v)
      }.getOrElse(Nil)
      cat.freeze(d.name, segs, name)
      return emptyResult(spark)
    }
    if (toks(i).isWord("APPLY") && {
      val n = nextNonWs(toks, i + 1)
      val m = if (n < toks.length) nextNonWs(toks, n + 1) else toks.length
      n < toks.length && toks(n).isWord("DELETED") &&
        m < toks.length && toks(m).isWord("MASK")
    }) {
      // ALTER TABLE t APPLY DELETED MASK [IN PARTITION p]: materialize
      // the lightweight-delete masks physically (CH's statement for
      // exactly this), O(dirty leaves) — the targeted alternative to a
      // full OPTIMIZE when only the mask rent should stop
      val m = nextNonWs(toks, nextNonWs(toks, i + 1) + 1) // at MASK
      val (partVals, afterIn) = inPartitionValuesAt(toks,
        nextNonWs(toks, m + 1), d)
      require(afterIn >= toks.length,
        "ChDdl: unexpected trailing tokens after APPLY DELETED MASK")
      cat.applyDeletedMask(d.name, partVals
        .map(vs => d.partitionBy.take(vs.length).zip(vs)).getOrElse(Nil))
      return emptyResult(spark)
    }
    if (toks(i).isWord("DELETE")) {
      val (partPred, after) = inPartitionPred(nextNonWs(toks, i + 1))
      i = after
      require(toks(i).isWord("WHERE"), "ChDdl: ALTER ... DELETE needs WHERE")
      val pred = expr(normalize(render(toks.drop(i + 1)).trim))
      cat.deleteWhere(d.name, partPred.map(_ && pred).getOrElse(pred))
      emptyResult(spark)
    } else if (toks(i).isWord("UPDATE")) {
      // UPDATE a = e1, b = e2 [IN PARTITION 'v'] WHERE p
      var w = i + 1
      var wd = -1
      var inIdx = -1
      while (w < toks.length && wd < 0) {
        if (toks(w).isWord("WHERE") && toks(w).depth == 0) wd = w
        else if (inIdx < 0 && toks(w).isWord("IN") && toks(w).depth == 0 && {
          val n = nextNonWs(toks, w + 1)
          n < toks.length && toks(n).isWord("PARTITION")
        }) inIdx = w
        w += 1
      }
      require(wd > 0, "ChDdl: ALTER ... UPDATE needs WHERE")
      val assignEnd = if (inIdx >= 0) inIdx else wd
      val (partPred, afterIn) = inPartitionPred(assignEnd)
      if (inIdx >= 0) require(afterIn == wd,
        "ChDdl: IN PARTITION must sit between the assignments and WHERE")
      val assigns = splitTop(toks, nextNonWs(toks, i + 1), assignEnd, 0).map {
        case (from, to) =>
          val s = render(toks.slice(from, to))
          val eq = s.indexOf('=')
          require(eq > 0, s"ChDdl: malformed UPDATE assignment '$s'")
          unq(s.substring(0, eq).trim) -> expr(normalize(s.substring(eq + 1).trim))
      }
      val protectedCols = (d.orderBy ++ d.partitionBy ++ d.versionCol).toSet
      val hit = assigns.map(_._1).filter(protectedCols.contains)
      require(hit.isEmpty,
        s"ChDdl: ALTER UPDATE cannot mutate key/partition/version " +
          s"column(s) ${hit.mkString(", ")} (CH forbids the same)")
      val pred = expr(normalize(render(toks.drop(wd + 1)).trim))
      cat.updateWhere(d.name, partPred.map(_ && pred).getOrElse(pred),
        assigns.toMap)
      emptyResult(spark)
    } else if (toks(i).isWord("CLEAR") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("COLUMN")
    }) {
      // CLEAR COLUMN c IN PARTITION 'v': CH's reset-to-default mutation —
      // every value of the column inside the addressed partition reverts
      // to the declared DEFAULT; without one, to NULL for Nullable
      // columns and to the type's zero value otherwise (CH's rule: 0,
      // '', epoch, empty array). Routed through the partition-pruned
      // updateWhere, so the rewrite is bounded to the addressed
      // directories — the partition conjunct IS the pruning conjunct.
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val cname = unq(toks(i).text)
      val cd = d.columns.find(_.name == cname).getOrElse(
        throw new IllegalArgumentException(
          s"ChDdl: no column '$cname' on ${d.name}"))
      require(!d.orderBy.contains(cname) && !d.partitionBy.contains(cname) &&
        !d.versionCol.contains(cname),
        s"ChDdl: cannot CLEAR key/partition/version column '$cname' " +
          "(CH forbids the same)")
      val (partPred, after) = inPartitionPred(nextNonWs(toks, i + 1))
      require(partPred.nonEmpty,
        "ChDdl: CLEAR COLUMN needs IN PARTITION '<v>' (CH requires the " +
          "partition scope)")
      require(after >= toks.length,
        "ChDdl: unexpected trailing tokens after CLEAR COLUMN ... IN PARTITION")
      val value = cd.default match {
        case Some(e) => expr(normalize(e)).cast(widenType(cd.dataType))
        case None if cd.nullable => lit(null).cast(widenType(cd.dataType))
        case None => typeZero(cd.dataType)
      }
      cat.updateWhere(d.name, partPred.get, Map(cname -> value))
      emptyResult(spark)
    } else if (toks(i).isWord("ADD") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("COLUMN")
    }) {
      // ADD COLUMN name Type [DEFAULT expr] — CH materializes the column
      // lazily per part; this engine rewrites eagerly (one job, the same
      // total work CH's mutation does, paid up front for determinism)
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val cname = unq(toks(i).text)
      require(!d.columns.exists(_.name == cname),
        s"ChDdl: column '$cname' already exists on ${d.name}")
      i = nextNonWs(toks, i + 1)
      var typeEnd = i
      while (typeEnd < toks.length && !(toks(typeEnd).kind == WORD &&
        toks(typeEnd).depth == 0 &&
        toks(typeEnd).text.equalsIgnoreCase("DEFAULT"))) typeEnd += 1
      val typeText = render(toks.slice(i, typeEnd)).trim
      require(typeText.nonEmpty, s"ChDdl: ADD COLUMN '$cname' missing a type")
      val (dt, nullable) = chTypeText(typeText)
      val default =
        if (typeEnd < toks.length)
          Some(render(toks.drop(typeEnd + 1)).trim)
        else None
      val value = default match {
        case Some(e) => expr(normalize(e)).cast(widenType(dt))
        case None => lit(null).cast(widenType(dt))
      }
      defs.put(key(cat, t), d.copy(columns =
        d.columns :+ ColumnDef(cname, dt, nullable || default.isEmpty, default)))
      cat.replaceContents(d.name, cat.readRaw(d.name).withColumn(cname, value))
      emptyResult(spark)
    } else if (toks(i).isWord("DROP") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("COLUMN")
    }) {
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val cname = unq(toks(i).text)
      require(d.columns.exists(_.name == cname),
        s"ChDdl: no column '$cname' on ${d.name}")
      require(!d.orderBy.contains(cname) && !d.partitionBy.contains(cname) &&
        !d.versionCol.contains(cname),
        s"ChDdl: cannot DROP key/version column '$cname'")
      defs.put(key(cat, t), d.copy(columns = d.columns.filterNot(_.name == cname)))
      cat.replaceContents(d.name, cat.readRaw(d.name).drop(cname))
      emptyResult(spark)
    } else if (toks(i).isWord("RENAME") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("COLUMN")
    }) {
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val from = unq(toks(i).text)
      i = nextNonWs(toks, i + 1)
      require(i < toks.length && toks(i).isWord("TO"),
        "ChDdl: expected RENAME COLUMN a TO b")
      i = nextNonWs(toks, i + 1)
      val to = unq(toks(i).text)
      require(d.columns.exists(_.name == from),
        s"ChDdl: no column '$from' on ${d.name}")
      require(!d.columns.exists(_.name == to),
        s"ChDdl: column '$to' already exists on ${d.name}")
      require(!d.orderBy.contains(from) && !d.partitionBy.contains(from) &&
        !d.versionCol.contains(from),
        s"ChDdl: cannot RENAME key/version column '$from' — constraints " +
          "and sort keys reference it by name")
      defs.put(key(cat, t), d.copy(columns = d.columns.map(c =>
        if (c.name == from) c.copy(name = to) else c)))
      cat.replaceContents(d.name, cat.readRaw(d.name).withColumnRenamed(from, to))
      emptyResult(spark)
    } else if (toks(i).isWord("MODIFY") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("TTL")
    }) {
      // MODIFY TTL tsCol + INTERVAL n UNIT — re-declare the table TTL;
      // applyTtl performs the physical purge on demand (q187/q188's
      // explicit-merge convention)
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val t0 = render(toks.drop(i)).trim
      val plus = t0.indexOf('+')
      require(plus > 0, s"ChDdl: unsupported TTL shape '$t0' — " +
        "expected <tsColumn> + INTERVAL n UNIT")
      defs.put(key(cat, t), d.copy(ttl =
        Some((unq(t0.substring(0, plus).trim), t0.substring(plus + 1).trim))))
      emptyResult(spark)
    } else if (toks(i).isWord("MODIFY") && {
      val n = nextNonWs(toks, i + 1)
      n < toks.length && toks(n).isWord("COLUMN")
    }) {
      // MODIFY COLUMN name NewType — a cast rewrite (CH's mutation)
      i = nextNonWs(toks, nextNonWs(toks, i + 1) + 1)
      val cname = unq(toks(i).text)
      require(d.columns.exists(_.name == cname),
        s"ChDdl: no column '$cname' on ${d.name}")
      val typeText = render(toks.drop(i + 1)).trim
      require(typeText.nonEmpty, s"ChDdl: MODIFY COLUMN '$cname' missing a type")
      val (dt, nullable) = chTypeText(typeText)
      defs.put(key(cat, t), d.copy(columns = d.columns.map(c =>
        if (c.name == cname) c.copy(dataType = dt, nullable = nullable) else c)))
      cat.replaceContents(d.name, cat.readRaw(d.name)
        .withColumn(cname, col(cname).cast(widenType(dt))))
      emptyResult(spark)
    } else if (toks(i).isWord("ADD")) {
      i = nextNonWs(toks, i + 1)
      if (!toks(i).isWord("VECTOR"))
        throw new UnsupportedOperationException(
          "ChDdl: only ALTER TABLE ... ADD VECTOR INDEX / ADD|DROP|RENAME|" +
            "MODIFY COLUMN are supported")
      i = nextNonWs(toks, i + 1)
      require(toks(i).isWord("INDEX"), "ChDdl: expected ADD VECTOR INDEX")
      i = nextNonWs(toks, i + 1)
      val iname = unq(toks(i).text); i = nextNonWs(toks, i + 1)
      val colName = unq(toks(i).text); i = nextNonWs(toks, i + 1)
      require(toks(i).isWord("TYPE"), "ChDdl: VECTOR INDEX needs TYPE")
      i = nextNonWs(toks, i + 1)
      val itype = unq(toks(i).text)
      val params = Map.newBuilder[String, String]
      toks.drop(i + 1).filter(_.kind == STR).foreach { s =>
        unqStr(s.text).split("=", 2) match {
          case Array(a, b) => params += (a.trim -> b.trim)
          case _ =>
        }
      }
      val spec = VectorIndexSpec(iname, colName, itype, params.result())
      defs.put(key(cat, t), d.copy(vectorIndexes = d.vectorIndexes :+ spec))
      emptyResult(spark)
    } else throw new UnsupportedOperationException(
      s"ChDdl: unsupported ALTER action '${toks(i).text}' — supported: " +
        "DELETE WHERE, UPDATE ... WHERE, ADD VECTOR INDEX")
  }

  /** CH `EXPLAIN indexes = 1 SELECT ... FROM t [PREWHERE p] [WHERE w]`:
    * per simple conjunct, the granule (row-group) accounting of every
    * physical index — partition directories, row-group minmax statistics,
    * registered column blooms — via [[SkipStats]], read from the same
    * footers execution's pushdown uses. Conjuncts that are not
    * `col OP literal` report index 'none' with every granule kept: the
    * honest "no metadata-level pruning", never a silent drop.
    */
  private def explainIndexes(cat: Catalog, stmt: Vector[Tok]): DataFrame = {
    val spark = cat.spark
    import spark.implicits._
    var f = 0
    while (f < stmt.length && !(stmt(f).isWord("FROM") && stmt(f).depth == 0)) f += 1
    require(f < stmt.length, "ChDdl: EXPLAIN INDEXES = 1 needs a FROM clause")
    val (t, _) = tableNameAt(stmt, nextNonWs(stmt, f + 1))
    val d = tableDef(cat, t)
    val dir = s"${cat.root}/${d.name}"
    // depth-0 WHERE/PREWHERE regions, split on depth-0 AND
    val clauseStops = Set("WHERE", "PREWHERE", "GROUP", "HAVING", "ORDER",
      "LIMIT", "UNION", "INTERSECT", "EXCEPT", "SETTINGS", "FORMAT")
    val ands = Vector.newBuilder[Vector[Tok]]
    var i = 0
    while (i < stmt.length) {
      if (stmt(i).depth == 0 &&
          (stmt(i).isWord("WHERE") || stmt(i).isWord("PREWHERE"))) {
        var e = i + 1
        while (e < stmt.length && !(stmt(e).depth == 0 && stmt(e).kind == WORD &&
          clauseStops.contains(stmt(e).text.toUpperCase))) e += 1
        var s = i + 1
        var j = i + 1
        while (j <= e) {
          if (j == e || (stmt(j).depth == 0 && stmt(j).isWord("AND"))) {
            ands += stmt.slice(s, j).filter(_.kind != ChSql.WS)
            s = j + 1
          }
          j += 1
        }
        i = e
      } else i += 1
    }
    val ops = Map("=" -> "=", "==" -> "=", "!=" -> "!=", "<>" -> "!=",
      "<" -> "<", "<=" -> "<=", ">" -> ">", ">=" -> ">=")
    val (parsed, unparsed) = ands.result().filter(_.nonEmpty).partition { c =>
      c.length == 3 && c(0).kind == WORD && c(1).kind == SYM &&
        ops.contains(c(1).text) && (c(2).kind == NUM || c(2).kind == STR)
    }
    val rows = SkipStats.explain(spark, dir, parsed.map(c =>
      SkipStats.Conjunct(unq(c(0).text), ops(c(1).text), c(2).text))) ++ {
      if (unparsed.isEmpty) Nil
      else {
        val (g, fl) = SkipStats.totals(spark, dir)
        unparsed.map(c => SkipStats.IndexRow("none", "",
          c.map(_.text).mkString(" "), g, g, fl, fl))
      }
    }
    // sidecar awareness (r12 verdict item 4): footer minmax/bloom stats
    // predate OUTSTANDING update patches — a conjunct on a patched
    // column reads exact results (predicates evaluate after patch
    // application) but its advisory pruning numbers can over-promise,
    // so the row says so instead of letting an operator over-read them.
    val patchedCols = cat.patchedColumns(d.name)
    rows.map(r => (r.index, r.column, r.condition, r.granulesTotal,
      r.granulesKept, r.filesTotal, r.filesKept,
      r.column.nonEmpty && patchedCols.contains(r.column)))
      .toDF("index", "column", "condition", "granules_total",
        "granules_kept", "files_total", "files_kept", "patched")
  }

  private def optimize(cat: Catalog, toks: Vector[Tok], i0: Int): DataFrame = {
    var i = skipWord(toks, i0, "OPTIMIZE", "TABLE")
    val (t, after) = tableNameAt(toks, i)
    // OPTIMIZE t [FINAL] DEDUPLICATE [BY (c1, c2)] — CH's physical
    // exact-duplicate drop; with BY, graft keeps the lexicographically-
    // least remaining tuple (deterministic; CH keeps an arbitrary row)
    var j = nextNonWs(toks, after)
    if (j < toks.length && toks(j).isWord("FINAL")) j = nextNonWs(toks, j + 1)
    if (j < toks.length && toks(j).isWord("DEDUPLICATE")) {
      j = nextNonWs(toks, j + 1)
      val by =
        if (j < toks.length && toks(j).isWord("BY")) {
          val txt = render(toks.drop(j + 1)).trim
          val body = if (txt.startsWith("(") && txt.endsWith(")"))
            txt.substring(1, txt.length - 1) else txt
          body.split(",").map(s => unq(s.trim)).toSeq.filter(_.nonEmpty)
        } else Nil
      val d = tableDef(cat, t)
      require(!d.replacing,
        "ChDdl: DEDUPLICATE on a Replacing engine is the FINAL merge " +
          "itself — use OPTIMIZE TABLE t FINAL")
      // the implicit insert sequence is bookkeeping, not row identity
      cat.dedupMerge(d.name, by, dropCols = Seq(SeqCol))
      return emptyResult(cat.spark)
    }
    // FINAL keyword optional; compaction IS the final merge
    mvDefs.get(key(cat, t)) match {
      case Some(_) =>
        // SummingMergeTree merge made physical: one row per key on disk
        cat.replaceContents(t, matViewFinal(cat, t))
      case None =>
        val d = tableDef(cat, t)
        if (d.replacing && d.orderBy.nonEmpty)
          cat.compact(d.name, d.orderBy, versionColOf(d))
        // plain MergeTree: OPTIMIZE is the merge that folds lightweight-
        // delete masks and update patches into the parts (CH's
        // _row_exists / patch-part materialization)
        else if (cat.hasDeletes(d.name) || cat.hasPatches(d.name))
          cat.replaceContents(d.name, cat.readRaw(d.name))
    }
    emptyResult(cat.spark)
  }

  /** Apply the table's declared `TTL tsCol + INTERVAL n UNIT` as a
    * physical purge (the CH background TTL merge, made explicit — same
    * convention as the serving-tier TTL gates q187/q188). `now` defaults
    * to `current_timestamp()`; pass a literal for deterministic tests.
    */
  def applyTtl(cat: Catalog, table: String, now: Column): Unit = {
    val d = tableDef(cat, table)
    val (tsCol, interval) = d.ttl.getOrElse(throw new IllegalArgumentException(
      s"ChDdl: table $table declares no TTL"))
    cat.applyTtl(d.name, tsCol, expr(interval), now)
  }

  // ---- vector index serving -------------------------------------------

  /** Build the declared vector index over the table's FINAL view. MSTG is
    * MyScale's proprietary graph index (reference
    * `README.md:86`); the public analog here is [[GraphAnn]]'s navigable
    * small-world graphs. String sort keys get a stable surrogate id
    * (`xxhash64`) so index results join back losslessly.
    */
  def buildVectorIndex(cat: Catalog, table: String,
      indexName: String): (GraphAnn, DataFrame) = {
    val d = tableDef(cat, table)
    val spec = d.vectorIndexes.find(_.name == indexName).getOrElse(
      throw new IllegalArgumentException(
        s"ChDdl: no VECTOR INDEX named $indexName on $table"))
    val metric = spec.params.getOrElse("metric_type", "Cosine")
    require(metric.equalsIgnoreCase("cosine"),
      s"ChDdl: metric_type=$metric not supported — Cosine only (the " +
        "reference's tables all declare Cosine)")
    val v = view(cat, table)
    val keyCols = if (d.orderBy.nonEmpty) d.orderBy else Seq(v.columns.head)
    val withSurrogate = v.withColumn("__vid",
      xxhash64(keyCols.map(col): _*))
    val g = GraphAnn.build(withSurrogate, "__vid", spec.column)
    (g, withSurrogate)
  }
}
