package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Catalog, ChDdl, ChSql}

/** The reference app's own DDL texts, end-to-end: CREATE TABLE with
  * MergeTree engines / CONSTRAINT CHECK / VECTOR INDEX, INSERT
  * VALUES+SELECT, ALTER mutations, OPTIMIZE FINAL, TTL, SAMPLE BY.
  * The first test parses the ChatArXiv DDL VERBATIM from
  * `/root/reference/app/backend/constants/myscale_tables.py:24-37`.
  */
class ChDdlSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshCat(tag: String) =
    Catalog(spark, Files.createTempDirectory(tag).toString)

  test("parses the reference ChatArXiv DDL verbatim") {
    val (d, _) = ChDdl.parseCreate("""
      CREATE TABLE default.ChatArXiv (
          `abstract` String,
          `id` String,
          `vector` Array(Float32),
          `metadata` Object('JSON'),
          `pubdate` DateTime,
          `title` String,
          `categories` Array(String),
          `authors` Array(String),
          `comment` String,
          `primary_category` String,
          VECTOR INDEX vec_idx vector TYPE MSTG('fp16_storage=1', 'metric_type=Cosine', 'disk_mode=3'),
          CONSTRAINT vec_len CHECK length(vector) = 768)
      ENGINE = ReplacingMergeTree ORDER BY id""")
    assert(d.name == "default.ChatArXiv")
    assert(d.replacing && d.versionCol.isEmpty)
    assert(d.orderBy == Seq("id"))
    assert(d.columns.map(_.name) == Seq("abstract", "id", "vector",
      "metadata", "pubdate", "title", "categories", "authors", "comment",
      "primary_category"))
    val byName = d.columns.map(c => c.name -> c.dataType).toMap
    assert(byName("vector") == ArrayType(FloatType, containsNull = false))
    assert(byName("metadata") == StringType) // JSON stored verbatim
    assert(byName("pubdate") == TimestampType)
    assert(byName("categories") == ArrayType(StringType, containsNull = false))
    assert(d.vectorIndexes == Seq(ChDdl.VectorIndexSpec("vec_idx", "vector",
      "MSTG", Map("fp16_storage" -> "1", "metric_type" -> "Cosine",
        "disk_mode" -> "3"))))
    assert(d.constraints == Seq(("vec_len", "length(vector) = 768")))
    // engine-parenthesized + explicit version + partition/sample/ttl
    val (d2, ine) = ChDdl.parseCreate("""
      CREATE TABLE IF NOT EXISTS m.t (
        k UInt32, v Nullable(Float64), day Date, ver UInt64,
        tag LowCardinality(String) DEFAULT 'none'
      ) ENGINE = ReplicatedReplacingMergeTree(ver)
        PARTITION BY day ORDER BY (k, day) SAMPLE BY k
        TTL day + INTERVAL 30 DAY SETTINGS index_granularity = 8192""")
    assert(ine && d2.replacing && d2.versionCol.contains("ver"))
    assert(d2.orderBy == Seq("k", "day") && d2.partitionBy == Seq("day"))
    assert(d2.sampleBy.contains("k"))
    assert(d2.ttl.contains(("day", "INTERVAL 30 DAY")))
    assert(d2.columns.find(_.name == "v").get.nullable)
    assert(d2.columns.find(_.name == "tag").get.default.contains("'none'"))
  }

  test("lifecycle: create, insert, FINAL dedup, delete, optimize (reference private_kb DDL)") {
    val cat = freshCat("chddl_kb")
    // verbatim shape from private_knowledge_base.py:22-31 (dim shrunk to 4)
    ChDdl.execute(cat, """
      CREATE TABLE IF NOT EXISTS chat.private_kb(
          entity_id String,
          file_name String,
          text String,
          user_id String,
          created_by DateTime,
          vector Array(Float32),
          CONSTRAINT cons_vec_len CHECK length(vector) = 4,
          VECTOR INDEX vidx vector TYPE MSTG('metric_type=Cosine')
      ) ENGINE = ReplacingMergeTree ORDER BY entity_id""")
    ChDdl.execute(cat, """
      INSERT INTO chat.private_kb VALUES
        ('e1', 'a.pdf', 'first text', 'u1', '2024-01-01 10:00:00', [1.0, 0.0, 0.0, 0.0]),
        ('e2', 'a.pdf', 'second text', 'u1', '2024-01-01 10:00:00', [0.0, 1.0, 0.0, 0.0])""")
    // same sort key again: ReplacingMergeTree keeps the LAST insert
    ChDdl.execute(cat, """
      INSERT INTO chat.private_kb VALUES
        ('e1', 'b.pdf', 'first text v2', 'u1', '2024-01-02 10:00:00', [0.5, 0.5, 0.0, 0.0])""")
    val v = ChDdl.view(cat, "chat.private_kb").orderBy("entity_id")
    val rows = v.select("entity_id", "file_name", "text").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(rows == Seq(("e1", "b.pdf", "first text v2"),
      ("e2", "a.pdf", "second text")))
    // parquet round-trips list elements as nullable; element TYPE is the contract
    assert(v.schema("vector").dataType.asInstanceOf[ArrayType].elementType == FloatType)
    // SELECT through execute: FINAL view auto-registered (db_table name)
    val c = ChDdl.execute(cat,
      "SELECT count(*) AS c FROM chat_private_kb WHERE user_id == 'u1'")
      .collect()(0).getLong(0)
    assert(c == 2L)
    // CH mutation
    ChDdl.execute(cat, "ALTER TABLE chat.private_kb DELETE WHERE entity_id = 'e2'")
    assert(ChDdl.view(cat, "chat.private_kb").count() == 1L)
    // OPTIMIZE FINAL materializes the merge: raw row count collapses
    ChDdl.execute(cat, "OPTIMIZE TABLE chat.private_kb FINAL")
    assert(cat.readRaw("chat.private_kb").count() == 1L)
    // constraint violated -> loud failure, nothing appended
    val before = cat.readRaw("chat.private_kb").count()
    val ex = intercept[IllegalArgumentException] {
      ChDdl.execute(cat,
        "INSERT INTO chat.private_kb VALUES ('e9', 'x', 'y', 'u2', '2024-01-01 00:00:00', [1.0, 2.0])")
    }
    assert(ex.getMessage.contains("cons_vec_len"))
    assert(cat.readRaw("chat.private_kb").count() == before)
  }

  test("INSERT SELECT, DEFAULT columns, explicit version column, UPDATE mutation") {
    val cat = freshCat("chddl_ins")
    ChDdl.execute(cat, """
      CREATE TABLE prices (
        sku String, price Float64, currency String DEFAULT 'USD', ver UInt64
      ) ENGINE = ReplacingMergeTree(ver) ORDER BY sku""")
    ChDdl.execute(cat,
      "INSERT INTO prices (sku, price, ver) VALUES ('a', 10.0, 1), ('b', 20.0, 1)")
    // explicit version column governs, not insert order: ver=0 LOSES
    ChDdl.execute(cat,
      "INSERT INTO prices (sku, price, ver) VALUES ('a', 99.0, 0)")
    val v0 = ChDdl.view(cat, "prices").orderBy("sku")
      .select("sku", "price", "currency").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getString(2))).toSeq
    assert(v0 == Seq(("a", 10.0, "USD"), ("b", 20.0, "USD")))
    // INSERT SELECT through the CH dialect
    Seq(("c", 30.0)).toDF("s", "p").createOrReplaceTempView("chddl_src")
    ChDdl.execute(cat,
      "INSERT INTO prices (sku, price, ver) SELECT s, p, 2 FROM chddl_src PREWHERE p > 0")
    assert(ChDdl.view(cat, "prices").count() == 3L)
    ChDdl.execute(cat,
      "ALTER TABLE prices UPDATE price = price * 2, currency = 'EUR' WHERE sku == 'b'")
    val b = ChDdl.view(cat, "prices").filter($"sku" === "b").collect()(0)
    assert(b.getAs[Double]("price") == 40.0 && b.getAs[String]("currency") == "EUR")
  }

  test("SAMPLE BY auto-registers the ChSql sampling key; TTL purges") {
    val cat = freshCat("chddl_sb")
    ChDdl.execute(cat, """
      CREATE TABLE ev (uid UInt32, ts DateTime, val Float64)
      ENGINE = MergeTree ORDER BY (uid, ts) SAMPLE BY uid
      TTL ts + INTERVAL 30 DAY""")
    val ins = (0 until 200).map(u =>
      s"($u, '2024-03-0${1 + u % 5} 00:00:00', ${u * 1.5})").mkString(", ")
    ChDdl.execute(cat, s"INSERT INTO ev VALUES $ins")
    val slices = (0 until 4).map { o =>
      ChDdl.execute(cat,
        s"SELECT count(*) AS c FROM ev SAMPLE 1/4 OFFSET $o/4")
        .collect()(0).getLong(0)
    }
    assert(slices.sum == 200L && slices.forall(_ > 0))
    ChDdl.applyTtl(cat, "ev", to_timestamp(lit("2024-04-03 00:00:00")))
    // rows with ts older than now - 30d (i.e. before 03-04) purged
    assert(ChDdl.view(cat, "ev").count() ==
      (0 until 200).count(u => 1 + u % 5 >= 4).toLong)
  }

  test("DDL-declared vector index builds and serves exactly at full ef") {
    val cat = freshCat("chddl_vi")
    ChDdl.execute(cat, """
      CREATE TABLE kb (id String, vector Array(Float32),
        CONSTRAINT len CHECK length(vector) = 8,
        VECTOR INDEX vidx vector TYPE MSTG('metric_type=Cosine'))
      ENGINE = ReplacingMergeTree ORDER BY id""")
    val rnd = new scala.util.Random(42)
    val rows = (0 until 300).map { i =>
      val v = Array.fill(8)(rnd.nextFloat())
      s"('d$i', [${v.mkString(", ")}])"
    }
    ChDdl.execute(cat, s"INSERT INTO kb VALUES ${rows.mkString(", ")}")
    val (g, frame) = ChDdl.buildVectorIndex(cat, "kb", "vidx")
    val q = Array.fill(8)(0.5f)
    val top = g.topKDF(spark, q, 5, ef = g.rows.toInt)
      .join(frame.select($"__vid".as("vec_id"), $"id"), "vec_id")
      .orderBy("dist").select("id").collect().map(_.getString(0)).toSeq
    // brute-force oracle over the same FINAL view
    val brute = ChDdl.view(cat, "kb").select($"id", $"vector").collect()
      .map { r =>
        val v = r.getSeq[Float](1).toArray
        val dot = v.zip(q).map { case (a, b) => a.toDouble * b }.sum
        val na = math.sqrt(v.map(x => x.toDouble * x).sum)
        val nb = math.sqrt(q.map(x => x.toDouble * x).sum)
        (r.getString(0), 1.0 - dot / (na * nb))
      }.sortBy(_._2).take(5).map(_._1).toSeq
    assert(top == brute)
  }

  test("loud failures: unsupported types, engines, ALTER forms, inline FORMAT payloads") {
    val cat = freshCat("chddl_err")
    intercept[IllegalArgumentException] {
      ChDdl.parseCreate("CREATE TABLE t (x AggregateFunction(sum, UInt64)) ENGINE = MergeTree ORDER BY x")
    }
    intercept[IllegalArgumentException] {
      ChDdl.parseCreate("CREATE TABLE t (x UInt32) ENGINE = SummingMergeTree ORDER BY x")
    }
    intercept[UnsupportedOperationException] {
      ChDdl.parseCreate("CREATE TABLE t (x UInt32, y UInt32 MATERIALIZED x * 2) ENGINE = MergeTree ORDER BY x")
    }
    ChDdl.execute(cat, "CREATE TABLE tt (x UInt32) ENGINE = MergeTree ORDER BY x")
    intercept[IllegalArgumentException] { // FREEZE PARTITION needs a layout
      ChDdl.execute(cat, "ALTER TABLE tt FREEZE PARTITION '2024'")
    }
    intercept[IllegalArgumentException] {
      ChDdl.execute(cat, "INSERT INTO tt FORMAT JSONEachRow {\"x\": 1}")
    }
    // string literals with brackets survive INSERT VALUES token rewrite
    ChDdl.execute(cat, "CREATE TABLE ts (s String, a Array(UInt8)) ENGINE = MergeTree ORDER BY s")
    ChDdl.execute(cat, "INSERT INTO ts VALUES ('x[1]', [1, 2])")
    val r = ChDdl.view(cat, "ts").collect()(0)
    assert(r.getString(0) == "x[1]" && r.getSeq[Short](1) == Seq(1, 2))
  }

  test("ALTER COLUMN family: add-with-default backfills, rename, modify, drop, guards") {
    val cat = freshCat("chddl_alter")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, v Float64) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO t VALUES (1, 1.5), (2, 2.5)")
    x("ALTER TABLE t ADD COLUMN tag String DEFAULT 'old'")
    x("INSERT INTO t VALUES (3, 3.5, 'new')")
    val rows = ChDdl.view(cat, "t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(2))).toSeq
    assert(rows == Seq((1L, "old"), (2L, "old"), (3L, "new"))) // backfill
    x("ALTER TABLE t RENAME COLUMN v TO score")
    x("ALTER TABLE t MODIFY COLUMN score Int32")
    assert(ChDdl.view(cat, "t").orderBy("id").collect()
      .map(_.getInt(1)).toSeq == Seq(1, 2, 3)) // cast applied
    x("ALTER TABLE t DROP COLUMN tag")
    assert(ChDdl.view(cat, "t").columns.toSeq == Seq("id", "score"))
    // the updated def governs later INSERTs (3 columns would now fail —
    // the VALUES alias arity mismatch surfaces as a parse error)
    intercept[Exception] { x("INSERT INTO t VALUES (4, 5, 'x')") }
    x("INSERT INTO t VALUES (4, 5)")
    assert(ChDdl.view(cat, "t").count() == 4L)
    // guards: duplicate add, key-column drop/rename, unknown modify
    intercept[IllegalArgumentException] { x("ALTER TABLE t ADD COLUMN score Int32") }
    intercept[IllegalArgumentException] { x("ALTER TABLE t DROP COLUMN id") }
    intercept[IllegalArgumentException] { x("ALTER TABLE t RENAME COLUMN id TO id2") }
    intercept[IllegalArgumentException] { x("ALTER TABLE t MODIFY COLUMN nope Int32") }
  }

  test("skip-index DDL: bloom_filter lands in the parquet footer, survives mutations") {
    val cat = freshCat("chddl_skip")
    val x = ChDdl.execute(cat, _: String)
    x("""CREATE TABLE sk (
           id Int64, user String, v Int64,
           INDEX u_bloom user TYPE bloom_filter(0.01) GRANULARITY 1,
           INDEX v_mm v TYPE minmax GRANULARITY 1
         ) ENGINE = MergeTree ORDER BY id""")
    val d = ChDdl.tableDef(cat, "sk")
    assert(d.skipIndexes.map(si => (si.name, si.indexType)).toSet ==
      Set(("u_bloom", "bloom_filter"), ("v_mm", "minmax")))
    x("INSERT INTO sk SELECT id, concat('u', CAST(id % 50 AS STRING)), id * 7 " +
      "FROM range(1000)")
    // a mutation rewrite must preserve the bloom (the registry is
    // consulted by writeReplacing too)
    x("ALTER TABLE sk DELETE WHERE id % 10 == 9")

    import scala.jdk.CollectionConverters._
    def blooms(): Seq[(String, Boolean)] = {
      val dir = java.nio.file.Paths.get(cat.root, "sk")
      val f = java.nio.file.Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet")).toSeq.head
      val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          spark.sessionState.newHadoopConf()))
      try {
        val block = rdr.getRowGroups.get(0)
        block.getColumns.asScala.toSeq.map { c =>
          (c.getPath.toDotString,
            rdr.getBloomFilterDataReader(block).readBloomFilter(c) != null)
        }
      } finally rdr.close()
    }
    val byCol = blooms().toMap
    assert(byCol("user"), "bloom filter missing on the indexed column")
    assert(!byCol("id") && !byCol("v"),
      "bloom filters must exist ONLY on the indexed column")
    // minmax is parquet-native: row-group stats exist regardless (free)
    assert(ChDdl.view(cat, "sk").count() == 900L)
  }

  test("CTAS, RENAME TABLE, EXCHANGE TABLES, SHOW, DESCRIBE") {
    val cat = freshCat("chddl_ctas")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE src (id Int64, v Int64) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO src VALUES (1, 10), (2, 20), (3, 30)")
    // CTAS: schema inferred from the SELECT, dialect accepted in it
    x("CREATE TABLE big ENGINE = MergeTree ORDER BY id AS " +
      "SELECT id, v * 2 AS v2 FROM src PREWHERE id >= 2")
    assert(ChDdl.view(cat, "big").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 40L), (3L, 60L)))
    // a CTAS table accepts further INSERTs under its inferred schema
    x("INSERT INTO big VALUES (9, 99)")
    assert(ChDdl.view(cat, "big").count() == 3L)
    // RENAME: all-metadata move; old name gone, data intact
    x("RENAME TABLE big TO big2")
    assert(ChDdl.view(cat, "big2").count() == 3L)
    intercept[IllegalArgumentException] { ChDdl.view(cat, "big") }
    // EXCHANGE: atomic swap
    x("CREATE TABLE tiny ENGINE = MergeTree ORDER BY id AS SELECT id, v AS v2 FROM src PREWHERE id == 1")
    x("EXCHANGE TABLES big2 AND tiny")
    assert(ChDdl.view(cat, "big2").count() == 1L)
    assert(ChDdl.view(cat, "tiny").count() == 3L)
    // SHOW TABLES lists this catalog's tables; DESCRIBE gives the def
    val names = x("SHOW TABLES").collect().map(_.getString(0)).toSeq
    assert(names.contains("src") && names.contains("big2") && names.contains("tiny"))
    val desc = x("DESCRIBE TABLE src").collect().map(r => (r.getString(0), r.getString(1)))
    assert(desc.toSeq == Seq(("id", "BIGINT"), ("v", "BIGINT")))
    // loud: CTAS onto Replacing needs a declared version type
    intercept[IllegalArgumentException] {
      x("CREATE TABLE r ENGINE = ReplacingMergeTree ORDER BY id AS SELECT id FROM src")
    }
    intercept[IllegalArgumentException] { x("RENAME TABLE tiny TO src") }
  }

  test("EXCHANGE refuses UP FRONT — a refusal never strands the temp slot") {
    val cat = freshCat("chddl_xchg")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE a (id Int64, n Int64) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO a SELECT id, id % 10 AS n FROM range(100)")
    x("CREATE TABLE b (id Int64, n Int64) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO b SELECT id, id % 10 AS n FROM range(40)")
    // outstanding sidecars on the SECOND table: with naive sequential
    // renames this would fail at rename 2 with `a` already stranded in
    // __xchg_N; the up-front validation refuses before ANY rename
    x("DELETE FROM b WHERE n = 3")
    val e = intercept[IllegalArgumentException] { x("EXCHANGE TABLES a AND b") }
    assert(e.getMessage.contains("OPTIMIZE"))
    // both tables untouched, nothing stranded
    assert(ChDdl.view(cat, "a").count() == 100L)
    assert(ChDdl.view(cat, "b").count() == 36L)
    assert(!x("SHOW TABLES").collect().map(_.getString(0)).exists(_.startsWith("__xchg_")))
    // unknown table refuses before any rename too
    intercept[IllegalArgumentException] { x("EXCHANGE TABLES a AND nope") }
    assert(ChDdl.view(cat, "a").count() == 100L)
    // SELF-exchange refuses before any rename: rename 1 would move `a`
    // into the temp slot and deregister it, so rename 2 (a -> a) would
    // fail with `a` stranded — exactly the class the up-front
    // validation exists to exclude (r16 ADVICE)
    val eSelf = intercept[IllegalArgumentException] {
      x("EXCHANGE TABLES a AND a")
    }
    assert(eSelf.getMessage.contains("distinct"))
    assert(ChDdl.view(cat, "a").count() == 100L)
    assert(!x("SHOW TABLES").collect().map(_.getString(0))
      .exists(_.startsWith("__xchg_")))
    // folding the sidecars re-arms the swap
    x("OPTIMIZE TABLE b FINAL")
    x("EXCHANGE TABLES a AND b")
    assert(ChDdl.view(cat, "a").count() == 36L)
    assert(ChDdl.view(cat, "b").count() == 100L)
    // an IO-crash-stranded slot (simulated): recovery is one RENAME
    x("RENAME TABLE a TO __xchg_999")
    x("RENAME TABLE __xchg_999 TO a")
    assert(ChDdl.view(cat, "a").count() == 36L)
  }

  test("system.parts / system.tables introspection through the fall-through") {
    val cat = freshCat("chddl_sys")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE a (id Int64) ENGINE = MergeTree ORDER BY id")
    x("CREATE TABLE b (id Int64) ENGINE = ReplacingMergeTree ORDER BY id")
    x("INSERT INTO a VALUES (1), (2)")
    x("INSERT INTO b VALUES (3)")
    val parts = x("""SELECT table, count(*) AS files, sum(bytes) AS b
                     FROM system.parts GROUP BY table ORDER BY table""").collect()
    assert(parts.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(parts.forall(_.getLong(2) > 0L))
    val tbls = x("SELECT name, engine FROM system.tables ORDER BY name").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(tbls == Seq(("a", "MergeTree"), ("b", "ReplacingMergeTree")))
    // the dotted form inside a string literal is untouched
    val lit = x("SELECT 'system.parts' AS s").collect()(0).getString(0)
    assert(lit == "system.parts")
    // system.columns: the column lattice of every registered def
    val cols = x("""SELECT table, name, type FROM system.columns
                    WHERE table = 'a' ORDER BY position""").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    assert(cols == Seq(("a", "id", "BIGINT")))
    // system.query_log: the listener ring is queryable through the text
    graft.operators.QueryLog.install(spark)
    x("SELECT count(*) AS warm FROM a") // something to log
    val logged = x("SELECT count(*) AS n FROM system.query_log")
      .collect()(0).getLong(0)
    assert(logged > 0L)
  }

  test("AggregatingMergeTree matview: -State merge across blocks, OPTIMIZE, finalize") {
    val cat = freshCat("chddl_aggmv")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE ev (k String, u Int64, v Int64) ENGINE = MergeTree ORDER BY k")
    x("""CREATE MATERIALIZED VIEW st ENGINE = AggregatingMergeTree
         ORDER BY k AS SELECT k, uniqExactState(u) AS users,
           avgState(v) AS mean_v, sumState(v) AS sum_v,
           minState(v) AS min_v, countState(v) AS n
         FROM ev GROUP BY k""")
    // u=1 appears in BOTH blocks for 'a': exact-distinct must dedup
    // across blocks, which a summed count(distinct) cannot do
    x("INSERT INTO ev VALUES ('a', 1, 10), ('a', 2, 20), ('b', 5, 5)")
    x("INSERT INTO ev VALUES ('a', 1, 30), ('a', 3, 40), ('b', 5, 7)")
    def fin() = ChDdl.matViewFinalized(cat, "st").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    val expect = Seq(("a", 3L, 25.0, 100L, 10L, 4L), ("b", 1L, 6.0, 12L, 5L, 2L))
    assert(fin() == expect)
    // two state rows per key until OPTIMIZE; identical finalize after
    assert(cat.readRaw("st").filter("k = 'a'").count() == 2L)
    x("OPTIMIZE TABLE st FINAL")
    assert(cat.readRaw("st").filter("k = 'a'").count() == 1L)
    assert(fin() == expect)
    // further inserts keep merging with the OPTIMIZE-materialized state
    x("INSERT INTO ev VALUES ('a', 9, 50)")
    assert(fin().head == (("a", 4L, 30.0, 150L, 10L, 5L)))
    // SELECT fall-through serves the FINALIZED view
    val sel = ChDdl.execute(cat, "SELECT k, users FROM st ORDER BY k").collect()
    assert(sel.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 4L), ("b", 1L)))
    // loud: non-key column without a -State rule
    x("""CREATE MATERIALIZED VIEW bad2 ENGINE = AggregatingMergeTree
         ORDER BY k AS SELECT k, uniqExactState(u) AS users, sum(v) AS s
         FROM ev GROUP BY k""")
    val e = intercept[IllegalArgumentException] { ChDdl.matViewFinal(cat, "bad2") }
    assert(e.getMessage.contains("-State"))
  }

  test("AggregatingMergeTree: quantileExactState/topKState merge across blocks") {
    val cat = freshCat("chddl_qtkmv")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE ev (k String, src String, v Int64) ENGINE = MergeTree ORDER BY k")
    x("""CREATE MATERIALIZED VIEW st ENGINE = AggregatingMergeTree
         ORDER BY k AS SELECT k, quantileExactState(v, 0.5) AS med,
           topKState(src, 2) AS top2
         FROM ev GROUP BY k""")
    // data chosen so PER-BLOCK answers are wrong: block medians are 2 and
    // 100 (true median of the union: 3); block top-2 are [x,y] and [z,y]
    // (true: z has 3, then the x/y tie at 2 breaks to x)
    x("INSERT INTO ev VALUES ('a', 'x', 1), ('a', 'x', 2), ('a', 'y', 3)")
    x("INSERT INTO ev VALUES ('a', 'y', 100), ('a', 'z', 101), ('a', 'z', 1), ('a', 'z', 2)")
    def fin() = ChDdl.matViewFinalized(cat, "st").orderBy("k").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[String](2).toList)).toSeq
    // 7 values sorted: 1,1,2,2,3,100,101; rank ceil(0.5*7)=4 -> 2
    assert(fin() == Seq(("a", 2L, List("z", "x"))))
    x("OPTIMIZE TABLE st FINAL")
    assert(cat.readRaw("st").count() == 1L)
    assert(fin() == Seq(("a", 2L, List("z", "x"))))
    // merging continues after materialization: three more 'y' rows push
    // y to 5 (top), and the median of 10 values (rank 5) becomes 3
    x("INSERT INTO ev VALUES ('a', 'y', 3), ('a', 'y', 200), ('a', 'y', 300)")
    assert(fin() == Seq(("a", 3L, List("y", "z"))))
    // the SELECT fall-through serves the finalized view
    val sel = ChDdl.execute(cat,
      "SELECT k, med, arrayStringConcat(top2, ',') AS t FROM st").collect()
    assert(sel.map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq ==
      Seq(("a", 3L, "y,z")))
    // loud: parameters must be literals
    intercept[Exception] {
      ChDdl.execute(cat, "SELECT topKState(src, v) AS t FROM ev").collect()
    }
  }

  test("EXPLAIN INDEXES = 1: partition, minmax and bloom granule accounting") {
    val cat = freshCat("chddl_expidx")
    val x = ChDdl.execute(cat, _: String)
    x("""CREATE TABLE e (id Int64, u String, day String,
         INDEX ub u TYPE bloom_filter) ENGINE = MergeTree ORDER BY id
         PARTITION BY day""")
    // four one-file inserts with disjoint id ranges: 4 granules, 2 per day
    def block(lo: Long, day: String, needle: Option[Long]): Unit = {
      spark.range(lo, lo + 1000).coalesce(1).selectExpr("id",
        needle.fold("concat('u', id)")(n =>
          s"CASE WHEN id = $n THEN 'needle' ELSE concat('u', id) END") + " AS u",
        s"'$day' AS day").createOrReplaceTempView("expidx_src")
      x("INSERT INTO e SELECT id, u, day FROM expidx_src")
    }
    block(0, "d0", None); block(1000, "d0", None)
    block(2000, "d1", Some(2500L)); block(3000, "d1", None)
    def rows(sql: String) = ChDdl.execute(cat, sql).collect()
      .map(r => (r.getString(0), r.getString(2), r.getLong(3), r.getLong(4))).toSeq
    // partition-directory pruning: 2 of 4 granules under day=d1
    assert(rows("EXPLAIN INDEXES = 1 SELECT count(*) AS c FROM e WHERE day == 'd1'")
      == Seq(("partition", "day = 'd1'", 4L, 2L)))
    // row-group minmax on the sort key: one insert's range matches
    assert(rows("EXPLAIN INDEXES = 1 SELECT id FROM e WHERE id < 1000")
      == Seq(("minmax", "id < 1000", 4L, 1L)))
    // bloom on the indexed non-key column: the needle lives in ONE file;
    // minmax over random-ish strings keeps more, the bloom prunes to it
    val b = rows("EXPLAIN INDEXES = 1 SELECT id FROM e PREWHERE u == 'needle'")
    assert(b.head._1 == "minmax" && b.head._3 == 4L)
    val bloom = b.find(_._1 == "bloom_filter").get
    assert(bloom._4 >= 1L && bloom._4 < bloom._3) // pruned, no false negative
    // multi-conjunct: one row per conjunct; unsupported shapes are honest
    val m = rows("EXPLAIN INDEXES = 1 SELECT id FROM e " +
      "WHERE day == 'd1' AND id >= 3000 AND id % 2 == 0")
    assert(m.map(_._1) == Seq("partition", "minmax", "none"))
    assert(m(0)._4 == 2L && m(1)._4 == 1L && m(2)._4 == 4L)
  }

  test("IN PARTITION mutation scope and EXPLAIN ESTIMATE") {
    val cat = freshCat("chddl_inpart")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, day String, v Int64) ENGINE = MergeTree ORDER BY id PARTITION BY day")
    spark.range(60).selectExpr("id", "concat('d', id % 3) AS day", "id AS v")
      .createOrReplaceTempView("inpart_src")
    x("INSERT INTO t SELECT id, day, v FROM inpart_src")
    // the WHERE matches rows in EVERY partition; IN PARTITION bounds the
    // mutation to one (CH semantics)
    x("ALTER TABLE t DELETE IN PARTITION 'd1' WHERE v % 2 == 0")
    assert(ChDdl.execute(cat, "SELECT count(*) AS c FROM t").head().getLong(0) == 50)
    x("ALTER TABLE t UPDATE v = 0 IN PARTITION 'd2' WHERE v >= 0")
    val zeroed = ChDdl.execute(cat,
      "SELECT day, count(*) AS c FROM t PREWHERE v == 0 GROUP BY day ORDER BY day")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(zeroed == Seq(("d0", 1L), ("d2", 20L))) // d0's own v=0 row + all of d2
    // EXPLAIN ESTIMATE: footer-only part/row/mark accounting
    val est = ChDdl.execute(cat, "EXPLAIN ESTIMATE SELECT * FROM t WHERE v > 3")
      .collect()(0)
    assert(est.getString(0) == "t" && est.getLong(2) == 50)
    assert(est.getLong(1) >= 3 && est.getLong(3) >= est.getLong(1)) // parts, marks
  }

  test("partition ops: detach/attach/replace/move guards and byte moves") {
    val cat = freshCat("chddl_partops")
    val x = ChDdl.execute(cat, _: String)
    for (t <- Seq("a", "b"))
      x(s"CREATE TABLE $t (id Int64, day String, v Int64) " +
        "ENGINE = MergeTree ORDER BY id PARTITION BY day")
    spark.range(90).selectExpr("id", "concat('d', id % 3) AS day", "id * 2 AS v")
      .createOrReplaceTempView("partops_src")
    x("INSERT INTO a SELECT id, day, v FROM partops_src")
    def count(t: String) =
      ChDdl.execute(cat, s"SELECT count(*) AS c FROM $t").head().getLong(0)
    def files(t: String, day: String): Map[String, (Long, Long)] = {
      import scala.jdk.CollectionConverters._
      val d = java.nio.file.Paths.get(cat.root, t, s"day=$day")
      if (!java.nio.file.Files.isDirectory(d)) Map.empty
      else java.nio.file.Files.list(d).iterator().asScala
        .filter(_.getFileName.toString.endsWith(".parquet"))
        .map(p => p.getFileName.toString -> (java.nio.file.Files.size(p),
          java.nio.file.Files.getLastModifiedTime(p).toMillis)).toMap
    }
    // DETACH makes the partition invisible; ATTACH brings it back intact
    val d1 = files("a", "d1")
    x("ALTER TABLE a DETACH PARTITION 'd1'")
    assert(count("a") == 60)
    x("ALTER TABLE a ATTACH PARTITION 'd1'")
    assert(count("a") == 90 && files("a", "d1") == d1) // same bytes, same files
    // MOVE transplants the directory (byte-identical files), src loses it
    x("ALTER TABLE a MOVE PARTITION 'd2' TO TABLE b")
    assert(count("a") == 60 && count("b") == 30)
    assert(files("b", "d2").nonEmpty && files("a", "d2").isEmpty)
    // REPLACE copies from the source, which stays intact
    x("INSERT INTO b SELECT id, 'd0' AS day, 0 AS v FROM partops_src PREWHERE id < 5")
    x("ALTER TABLE a REPLACE PARTITION 'd0' FROM b")
    assert(count("b") == 35) // source untouched
    assert(ChDdl.execute(cat,
      "SELECT count(*) AS c FROM a PREWHERE day == 'd0'").head().getLong(0) == 5)
    // outstanding lightweight mutations block partition manipulation
    x("DELETE FROM a WHERE day == 'd1' AND id == 1")
    val e = intercept[IllegalArgumentException] {
      x("ALTER TABLE a DETACH PARTITION 'd1'")
    }
    assert(e.getMessage.contains("OPTIMIZE"))
    x("OPTIMIZE TABLE a FINAL")
    x("ALTER TABLE a DETACH PARTITION 'd1'") // folded: allowed again
    assert(count("a") == 5)
    // system.detached_parts surfaces the parked partition
    val det = ChDdl.execute(cat,
      "SELECT table, partition FROM system.detached_parts")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(det == Seq(("a", "day=d1")))
    // system.parts carries each part's partition directory (CH fidelity)
    val pp = ChDdl.execute(cat,
      "SELECT DISTINCT partition FROM system.parts WHERE table == 'a'")
      .collect().map(_.getString(0)).toSet
    assert(pp == Set("day=d0"))
    // mismatched declared keys are loud
    x("CREATE TABLE c (id Int64, lang String, v Int64) ENGINE = MergeTree ORDER BY id PARTITION BY lang")
    intercept[IllegalArgumentException] {
      x("ALTER TABLE c ATTACH PARTITION 'd0' FROM a")
    }
  }

  test("DELETE FROM, EXPLAIN, MODIFY TTL, multi-statement scripts") {
    val cat = freshCat("chddl_misc")
    // a .sql-file-shaped script: the splitter is token-level, so the
    // semicolon inside a string literal survives
    val last = ChDdl.executeScript(cat, """
      CREATE TABLE s (id Int64, tag String, ts DateTime)
        ENGINE = MergeTree ORDER BY id;
      INSERT INTO s VALUES
        (1, 'a;b', timestamp'2024-01-01 00:00:00'),
        (2, 'c', timestamp'2024-03-01 00:00:00'),
        (3, 'd', timestamp'2024-06-01 00:00:00');
      DELETE FROM s WHERE id == 2;
      SELECT id, tag FROM s ORDER BY id
    """)
    assert(last.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "a;b"), (3L, "d")))
    // EXPLAIN returns the physical plan as rows
    val plan = ChDdl.execute(cat, "EXPLAIN SELECT count(*) AS c FROM s")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"))
    // MODIFY TTL re-declares; applyTtl purges physically
    ChDdl.execute(cat, "ALTER TABLE s MODIFY TTL ts + INTERVAL 3 MONTH")
    ChDdl.applyTtl(cat, "s",
      org.apache.spark.sql.functions.lit("2024-06-15 00:00:00").cast("timestamp"))
    assert(ChDdl.view(cat, "s").collect().map(_.getLong(0)).toSeq == Seq(3L))
    intercept[IllegalArgumentException] { // DELETE without WHERE: loud
      ChDdl.execute(cat, "DELETE FROM s")
    }
  }

  test("PARTITION BY tables: layout on disk, pruned mutations, key-update guard") {
    val cat = freshCat("chddl_part")
    val x = ChDdl.execute(cat, _: String)
    x("""CREATE TABLE p (id Int64, day String, v Int64)
         ENGINE = MergeTree ORDER BY id PARTITION BY day""")
    // empty partitioned table is readable (declared schema, zero rows)
    assert(ChDdl.view(cat, "p").columns.toSeq == Seq("id", "day", "v"))
    assert(ChDdl.view(cat, "p").count() == 0L)
    x("INSERT INTO p VALUES (1, 'a', 10), (2, 'b', 20), (3, 'a', 30)")
    // inserts land Hive-style (the dropPartition/pruned-mutation layout)
    assert(new java.io.File(s"${cat.root}/p/day=a").exists())
    x("INSERT INTO p VALUES (4, 'b', 40)")
    assert(ChDdl.view(cat, "p").count() == 4L)
    // whole-partition ALTER DELETE drops the directory
    x("ALTER TABLE p DELETE WHERE day == 'a'")
    assert(!new java.io.File(s"${cat.root}/p/day=a").exists())
    assert(ChDdl.view(cat, "p").orderBy("id").collect().map(_.getLong(0)).toSeq ==
      Seq(2L, 4L))
    // partition/key columns are update-protected (CH forbids the same)
    val e = intercept[IllegalArgumentException] {
      x("ALTER TABLE p UPDATE day = 'z' WHERE id == 2")
    }
    assert(e.getMessage.contains("key/partition"))
    x("ALTER TABLE p UPDATE v = v + 1 WHERE day == 'b'")
    assert(ChDdl.view(cat, "p").orderBy("id").collect().map(_.getLong(2)).toSeq ==
      Seq(21L, 41L))
  }

  test("CREATE/DROP DATABASE, SHOW DATABASES, SHOW TABLES FROM db") {
    val cat = freshCat("chddl_db")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE DATABASE analytics")
    x("CREATE DATABASE IF NOT EXISTS analytics") // idempotent form
    intercept[IllegalArgumentException] { x("CREATE DATABASE analytics") }
    assert(x("SHOW DATABASES").collect().map(_.getString(0)).toSeq ==
      Seq("analytics"))
    x("CREATE TABLE analytics.a (id Int64) ENGINE = MergeTree ORDER BY id")
    x("CREATE TABLE analytics.b (id Int64) ENGINE = MergeTree ORDER BY id")
    x("CREATE TABLE loose (id Int64) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO analytics.a VALUES (1)")
    val inDb = x("SHOW TABLES FROM analytics").collect()
      .map(_.getString(0)).toSeq
    assert(inDb == Seq("analytics.a", "analytics.b"))
    assert(x("SHOW TABLES").collect().length == 3)
    // DROP DATABASE removes the tables AND their data directories
    val dataDir = java.nio.file.Paths.get(cat.root, "analytics.a")
    assert(java.nio.file.Files.exists(dataDir))
    x("DROP DATABASE analytics")
    assert(!java.nio.file.Files.exists(dataDir))
    assert(x("SHOW TABLES").collect().map(_.getString(0)).toSeq == Seq("loose"))
    intercept[IllegalArgumentException] { ChDdl.view(cat, "analytics.a") }
  }

  test("DROP TABLE removes the data: CREATE of the same name starts empty") {
    val cat = freshCat("chddl_drop")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, s String) ENGINE = MergeTree ORDER BY id")
    x("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    assert(x("SELECT count(*) FROM t").head().getLong(0) == 2)
    x("DROP TABLE t")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(cat.root, "t")))
    x("CREATE TABLE t (id Int64, s String) ENGINE = MergeTree ORDER BY id")
    assert(x("SELECT count(*) FROM t").head().getLong(0) == 0)
    x("INSERT INTO t VALUES (3, 'c')")
    assert(x("SELECT id FROM t").collect().map(_.getLong(0)).toSeq == Seq(3L))
  }

  test("materialized view: insert-trigger semantics, POPULATE, OPTIMIZE, drop") {
    val cat = freshCat("chddl_mv")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE ev (k String, n Int64) ENGINE = MergeTree ORDER BY k")
    x("INSERT INTO ev VALUES ('a', 1), ('b', 10)") // pre-view: invisible
    x("""CREATE MATERIALIZED VIEW ev_sum ENGINE = SummingMergeTree
         ORDER BY k AS SELECT k, count(*) AS c, sum(n) AS s
         FROM ev GROUP BY k""")
    x("INSERT INTO ev VALUES ('a', 2), ('a', 3)")
    x("INSERT INTO ev VALUES ('a', 4), ('b', 20)")
    def mv() = ChDdl.matViewFinal(cat, "ev_sum").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(mv() == Seq(("a", 3L, 9L), ("b", 1L, 20L))) // pre-view block absent
    // two partial rows for 'a' on disk (one per block) until OPTIMIZE
    assert(cat.readRaw("ev_sum").filter("k = 'a'").count() == 2L)
    x("OPTIMIZE TABLE ev_sum FINAL")
    assert(cat.readRaw("ev_sum").filter("k = 'a'").count() == 1L)
    assert(mv() == Seq(("a", 3L, 9L), ("b", 1L, 20L))) // merge is a no-op read-wise
    // the view is SELECT-able through execute's fall-through, merged
    val sel = ChDdl.execute(cat,
      "SELECT k, c, s FROM ev_sum ORDER BY k").collect()
    assert(sel.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 3L, 9L), ("b", 1L, 20L)))
    // POPULATE backfills the CURRENT base contents
    x("""CREATE MATERIALIZED VIEW ev_all ENGINE = SummingMergeTree
         ORDER BY k POPULATE AS SELECT k, sum(n) AS s FROM ev GROUP BY k""")
    val all = ChDdl.matViewFinal(cat, "ev_all").orderBy("k")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(all == Seq(("a", 10L), ("b", 30L)))
    x("DROP VIEW ev_sum")
    intercept[IllegalArgumentException] { ChDdl.matViewFinal(cat, "ev_sum") }
    // loud contracts
    intercept[UnsupportedOperationException] {
      ChDdl.parseCreateMatView(
        "CREATE MATERIALIZED VIEW m TO tgt ENGINE = SummingMergeTree ORDER BY k AS SELECT k FROM ev")
    }
    intercept[IllegalArgumentException] { // AggregatingMergeTree → Projections
      ChDdl.parseCreateMatView(
        "CREATE MATERIALIZED VIEW m ENGINE = AggregatingMergeTree ORDER BY k AS SELECT k FROM ev")
    }
    x("""CREATE MATERIALIZED VIEW bad ENGINE = SummingMergeTree
         ORDER BY k AS SELECT k, max(cast(n AS String)) AS lbl FROM ev GROUP BY k""")
    val e = intercept[IllegalArgumentException] { ChDdl.matViewFinal(cat, "bad") }
    assert(e.getMessage.contains("not summable"))
  }

  // ---- round 13 -----------------------------------------------------------

  test("composite PARTITION tuples; identical-key rule for cross-table ops") {
    val cat = freshCat("chddl_leaf")
    val x = ChDdl.execute(cat, _: String)
    for (t <- Seq("p", "q"))
      x(s"CREATE TABLE $t (id Int64, day String, lang String, v Int64) " +
        "ENGINE = MergeTree ORDER BY id PARTITION BY (day, lang)")
    x("CREATE TABLE flat (id Int64, day String, lang String, v Int64) " +
      "ENGINE = MergeTree ORDER BY id PARTITION BY day")
    spark.range(120).selectExpr("id", "concat('d', id % 2) AS day",
      "concat('l', id % 3) AS lang", "id AS v")
      .createOrReplaceTempView("leaf_src")
    x("INSERT INTO p SELECT id, day, lang, v FROM leaf_src")
    def count(t: String) =
      ChDdl.execute(cat, s"SELECT count(*) AS c FROM $t").head().getLong(0)
    // leaf round-trip + leaf move through the statement surface
    x("ALTER TABLE p DETACH PARTITION ('d1', 'l2')")
    assert(count("p") == 100)
    x("ALTER TABLE p ATTACH PARTITION ('d1', 'l2')")
    assert(count("p") == 120)
    x("ALTER TABLE p MOVE PARTITION ('d0', 'l1') TO TABLE q")
    assert(count("p") == 100 && count("q") == 20)
    // arity beyond the declared key is loud
    intercept[IllegalArgumentException] {
      x("ALTER TABLE p DROP PARTITION ('d0', 'l0', 'x')")
    }
    // malformed addresses are parse errors, never silent widenings: an
    // empty tuple must not become "the whole table"
    intercept[IllegalArgumentException] { x("ALTER TABLE p DROP PARTITION ()") }
    intercept[IllegalArgumentException] {
      x("ALTER TABLE p DROP PARTITION ('d0',)")
    }
    intercept[IllegalArgumentException] {
      x("ALTER TABLE p APPLY DELETED MASK IN PARTITION ()")
    }
    intercept[IllegalArgumentException] {
      x("DELETE FROM p IN PARTITION () WHERE v > 0")
    }
    // cross-table ops demand IDENTICAL declared keys — a (day, lang)
    // subtree must never land in a day-only table (mixed-depth layout
    // breaks partition discovery); head-only agreement is not enough
    val e = intercept[IllegalArgumentException] {
      x("ALTER TABLE flat ATTACH PARTITION 'd0' FROM p")
    }
    assert(e.getMessage.contains("identical declared keys"))
    intercept[IllegalArgumentException] {
      x("ALTER TABLE p MOVE PARTITION 'd0' TO TABLE flat")
    }
  }

  test("CLEAR COLUMN IN PARTITION: defaults, zeros, NULLs, guards") {
    val cat = freshCat("chddl_clear")
    val x = ChDdl.execute(cat, _: String)
    x("""CREATE TABLE t (id Int64, day String, v Int64 DEFAULT 42,
         s String, nn Nullable(String), dd Date)
         ENGINE = MergeTree ORDER BY id PARTITION BY day""")
    spark.range(30).selectExpr("id", "concat('d', id % 3) AS day",
      "id AS v", "concat('s', id) AS s", "concat('n', id) AS nn",
      "DATE '2024-03-09' AS dd")
      .createOrReplaceTempView("clear_src")
    x("INSERT INTO t SELECT id, day, v, s, nn, dd FROM clear_src")
    x("ALTER TABLE t CLEAR COLUMN v IN PARTITION 'd0'")  // declared DEFAULT
    x("ALTER TABLE t CLEAR COLUMN s IN PARTITION 'd1'")  // type zero ''
    x("ALTER TABLE t CLEAR COLUMN nn IN PARTITION 'd2'") // Nullable -> NULL
    x("ALTER TABLE t CLEAR COLUMN dd IN PARTITION 'd0'") // Date zero = epoch
    assert(ChDdl.execute(cat,
      "SELECT count(*) AS c FROM t PREWHERE day == 'd0' AND dd == toDate('1970-01-01')")
      .head().getLong(0) == 10)
    val r = ChDdl.execute(cat, """SELECT day, sum(v) AS sv,
        countIf(s == '') AS zs, count(nn) AS nns
        FROM t GROUP BY day ORDER BY day""").collect()
      .map(row => (row.getString(0), row.getLong(1), row.getLong(2),
        row.getLong(3))).toSeq
    assert(r == Seq(
      ("d0", 42L * 10, 0L, 10L),
      ("d1", (1L to 28 by 3).sum, 10L, 10L),
      ("d2", (2L to 29 by 3).sum, 0L, 0L)))
    // guards: partition scope required; key/partition columns protected
    intercept[IllegalArgumentException] { x("ALTER TABLE t CLEAR COLUMN v") }
    intercept[IllegalArgumentException] {
      x("ALTER TABLE t CLEAR COLUMN id IN PARTITION 'd0'")
    }
    intercept[IllegalArgumentException] {
      x("ALTER TABLE t CLEAR COLUMN day IN PARTITION 'd0'")
    }
  }

  test("EXPLAIN INDEXES flags conjuncts on patched columns") {
    val cat = freshCat("chddl_patchidx")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, v Int64, w Int64) ENGINE = MergeTree ORDER BY id")
    spark.range(1000).selectExpr("id", "id AS v", "id AS w")
      .createOrReplaceTempView("patchidx_src")
    x("INSERT INTO t SELECT id, v, w FROM patchidx_src")
    def flags(sql: String) = ChDdl.execute(cat, sql).collect()
      .map(r => (r.getString(1), r.getBoolean(7))).toSeq
    // clean table: nothing flagged
    assert(flags("EXPLAIN INDEXES = 1 SELECT id FROM t WHERE v < 10 AND w < 10")
      == Seq(("v", false), ("w", false)))
    // outstanding patch on v: its conjunct is flagged (footer stats
    // predate the patch), w stays trustworthy; results remain exact
    x("UPDATE t SET v = v + 100000 WHERE id < 10")
    assert(flags("EXPLAIN INDEXES = 1 SELECT id FROM t WHERE v < 10 AND w < 10")
      == Seq(("v", true), ("w", false)))
    assert(ChDdl.execute(cat,
      "SELECT count(*) AS c FROM t PREWHERE v < 10").head().getLong(0) == 0)
    // OPTIMIZE folds the patch; the flag clears
    x("OPTIMIZE TABLE t FINAL")
    assert(flags("EXPLAIN INDEXES = 1 SELECT id FROM t WHERE v < 10 AND w < 10")
      == Seq(("v", false), ("w", false)))
  }

  test("FREEZE snapshots survive mutations; restore + UNFREEZE lifecycle") {
    val cat = freshCat("chddl_freeze")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE t (id Int64, day String, v Int64) " +
      "ENGINE = MergeTree ORDER BY id PARTITION BY day")
    spark.range(90).selectExpr("id", "concat('d', id % 3) AS day", "id AS v")
      .createOrReplaceTempView("freeze_src")
    x("INSERT INTO t SELECT id, day, v FROM freeze_src")
    def total() = ChDdl.execute(cat,
      "SELECT CAST(sum(v) AS BIGINT) AS s FROM t").head().getLong(0)
    val t0 = total()
    x("ALTER TABLE t FREEZE WITH NAME 'all'")            // whole table
    x("ALTER TABLE t FREEZE PARTITION 'd1' WITH NAME 'p1'")
    val sh = cat.shadows().collect()
      .map(r => (r.getString(1), r.getLong(2))).toMap
    assert(sh.keySet == Set("all", "p1") && sh.values.forall(_ > 0))
    // duplicate backup names are loud; so is freezing with a live mask
    intercept[IllegalArgumentException] {
      x("ALTER TABLE t FREEZE PARTITION 'd1' WITH NAME 'p1'")
    }
    x("DELETE FROM t WHERE day == 'd2' AND id == 2")
    intercept[IllegalArgumentException] { x("ALTER TABLE t FREEZE") }
    x("ALTER TABLE t APPLY DELETED MASK")
    // mutate + drop the frozen partition, then restore the snapshot
    x("ALTER TABLE t UPDATE v = 0 IN PARTITION 'd1' WHERE v >= 0")
    x("ALTER TABLE t DROP PARTITION 'd1'")
    cat.restoreFrozen("t", "p1", Seq("day" -> "d1"))
    x("ALTER TABLE t ATTACH PARTITION 'd1'")
    assert(total() == t0 - 2) // original d1 bytes back; only id=2 deleted
    // backups restore MANY times: the shadow survived the restore
    assert(cat.shadows().collect().map(_.getString(1)).toSet ==
      Set("all", "p1"))
    x("SYSTEM UNFREEZE WITH NAME 'p1'")
    assert(cat.shadows().collect().map(_.getString(1)).toSeq == Seq("all"))
    assert(cat.unfreeze("t", "all") && !cat.unfreeze("t", "all"))
    assert(total() == t0 - 2) // backups never touch data
  }

  test("quantileExactState finalizes an all-NULL key group to NULL") {
    val cat = freshCat("chddl_qnull")
    val x = ChDdl.execute(cat, _: String)
    x("CREATE TABLE m (k String, v Nullable(Int64)) ENGINE = MergeTree ORDER BY k")
    x("""CREATE MATERIALIZED VIEW mq ENGINE = AggregatingMergeTree ORDER BY k
         AS SELECT k, quantileExactState(v, 0.5) AS med FROM m GROUP BY k""")
    spark.range(10).selectExpr("CASE WHEN id < 5 THEN 'a' ELSE 'b' END AS k",
      "CASE WHEN id < 5 THEN id ELSE NULL END AS v")
      .createOrReplaceTempView("qnull_src")
    x("INSERT INTO m SELECT k, v FROM qnull_src")
    val rows = ChDdl.execute(cat, "SELECT k, med FROM mq ORDER BY k").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("a", "b"))
    assert(rows(0).getLong(1) == 2L)  // median of 0..4
    assert(rows(1).isNullAt(1))      // all-NULL group: NULL, not an ANSI error
  }
}
