package graft.perfbench

import org.apache.spark.sql.Row

import graft.operators.{Catalog, ChDdl}

/** sql_lifecycle: a ClickHouse-dialect SQL client sending a seeded script,
  * one statement per op, in order (one client: a script is sequential).
  * The script cycles two MergeTree tables, one lineitem-shaped and one
  * documents-shaped with an AggregatingMergeTree materialized view,
  * through epochs of CREATE, INSERT slices, lightweight DELETE and UPDATE,
  * ALTER TABLE ... DELETE, OPTIMIZE TABLE ... FINAL, SELECT aggregates and
  * MV FINAL reads, and DROP. Here the wall is per-statement driver cost
  * (jobs per statement, Catalyst, FsOps, sidecar folds, memos); the
  * serving structures do no work.
  */
final class SqlLifecycle(h: Harness) extends Workload {
  import SqlLifecycle._

  private val spark = h.spark
  private val seed = h.conf.seed
  val clients = 1
  /** The documents table at sf0.1 (the input q232/q243/q251 mutate) and
    * the lineitem table at sf0.01.
    */
  private val docRows = if (h.conf.tiny) 500L else 5000L
  private val liRows = if (h.conf.tiny) 2000L else 60000L

  private var cat: Catalog = _
  // every epoch's tables get fresh names: at this commit DROP TABLE leaves
  // the data directory behind, and CREATE TABLE refuses a name whose
  // directory exists
  private var tables = 0
  private val scripts = scala.collection.mutable.Map.empty[Window, Iterator[Stmt]]

  def setup(rep: Int): Unit = {
    val dir = s"${h.conf.work}/sql/rep$rep"
    Trace.span("stage.sources") {
      Data.docsSource(spark, seed, docRows).write.mode("overwrite").parquet(s"$dir/src_docs")
      Data.lineitemSource(spark, seed, liRows).write.mode("overwrite").parquet(s"$dir/src_li")
    }
    spark.read.parquet(s"$dir/src_docs").createOrReplaceTempView("src_docs")
    spark.read.parquet(s"$dir/src_li").createOrReplaceTempView("src_li")
    cat = Catalog(spark, s"$dir/catalog")
  }

  /** One documents epoch: every statement kind once. */
  def warmUp(w: Window): Unit = docsEpoch(-1).foreach(run(w, _))

  /** A cycle is one lineitem epoch and one documents epoch. Every window
    * runs the same script from its start (epoch parameters come from the
    * seed and the epoch's place in the window), on fresh tables.
    */
  val cycle: Int = lineitemEpoch(0).length + docsEpoch(1).length

  def step(w: Window, client: Int, seq: Int): Unit = {
    val script = scripts.getOrElseUpdate(w, Iterator.from(0).flatMap(epochOf))
    run(w, script.next())
  }

  private def run(w: Window, s: Stmt): Unit = h.op(w, s.kind) {
    val rows = Trace.span(s"ChDdl.execute.${s.kind}") {
      val df = ChDdl.execute(cat, s.text)
      if (s.oracle.isDefined) df.collect() else Array.empty[Row]
    }
    s.oracle match {
      case None => Check.Ok
      case Some(sql) =>
        val got = h.tamper(w, rows.map(render).toSeq)(_.drop(1))
        Check {
          val want = spark.sql(sql).collect().map(render).toSeq
          if (got == want) None else Some(s"got ${got.mkString(";")} expected ${want.mkString(";")}")
        }
    }
  }

  private def epochOf(e: Int): Seq[Stmt] = if (e % 2 == 0) lineitemEpoch(e) else docsEpoch(e)

  private def rnd(e: Int) = Data.rng(seed, 4L, e)

  private def fresh(): Int = { tables += 1; tables }

  /** documents-shaped table plus an AggregatingMergeTree view over it. */
  def docsEpoch(e: Int): Seq[Stmt] = {
    val r = rnd(e)
    val cut = 100 + r.nextInt(300)
    val m = 5 + r.nextInt(9)
    val rr = r.nextInt(m)
    val lang = Data.Langs(r.nextInt(Data.Langs.length))
    val chain = new Chain("SELECT doc_id, lang, source, n_chars FROM src_docs",
      Seq("doc_id", "lang", "source", "n_chars"))
    val n = fresh()
    val t = s"docs_$n"
    val mv = s"docs_mv_$n"
    val agg = "SELECT lang, count(*) AS docs, sum(n_chars) AS chars FROM %s GROUP BY lang ORDER BY lang"
    Seq(
      Stmt("CREATE", s"""CREATE TABLE $t (doc_id Int64, lang String, source String, n_chars Int64)
                       |ENGINE = MergeTree ORDER BY doc_id PARTITION BY lang""".stripMargin),
      Stmt("CREATE", s"""CREATE MATERIALIZED VIEW $mv
                       |ENGINE = AggregatingMergeTree ORDER BY lang
                       |AS SELECT lang, countState(doc_id) AS n, sumState(n_chars) AS chars,
                       |          maxState(n_chars) AS max_chars
                       |   FROM $t GROUP BY lang""".stripMargin)) ++
      (0 until 3).map(i => Stmt("INSERT",
        s"INSERT INTO $t SELECT doc_id, lang, source, n_chars FROM src_docs WHERE doc_id % 3 == $i")) ++
      Seq(
        Stmt("DELETE", chain.delete(s"DELETE FROM $t WHERE n_chars < $cut", s"n_chars < $cut")),
        Stmt("UPDATE", chain.update(s"UPDATE $t SET n_chars = n_chars + 7 WHERE doc_id % $m == $rr",
          "n_chars", "n_chars + 7", s"doc_id % $m = $rr")),
        Stmt("SELECT", agg.format(t), Some(chain.query(agg))),
        Stmt("ALTER_DELETE", chain.delete(s"ALTER TABLE $t DELETE WHERE lang = '$lang' AND doc_id % 2 == 0",
          s"lang = '$lang' AND doc_id % 2 = 0")),
        Stmt("OPTIMIZE", s"OPTIMIZE TABLE $t FINAL"),
        Stmt("SELECT", agg.format(t), Some(chain.query(agg))),
        // the view is an insert trigger: it saw every inserted row and no mutation
        Stmt("MV_SELECT", s"SELECT lang, n, chars, max_chars FROM $mv FINAL ORDER BY lang",
          Some("""SELECT lang, count(doc_id) AS n, sum(n_chars) AS chars, max(n_chars) AS max_chars
                 |FROM src_docs GROUP BY lang ORDER BY lang""".stripMargin)),
        Stmt("DROP", s"DROP TABLE $mv"),
        Stmt("DROP", s"DROP TABLE $t"))
  }

  /** lineitem-shaped table. */
  def lineitemEpoch(e: Int): Seq[Stmt] = {
    val r = rnd(e)
    val q = 3 + r.nextInt(10)
    val m = 5 + r.nextInt(9)
    val rr = r.nextInt(m)
    val line = 1 + r.nextInt(4)
    val t = s"li_${fresh()}"
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_price_cents",
      "l_returnflag", "l_linestatus")
    val chain = new Chain(s"SELECT ${cols.mkString(", ")} FROM src_li", cols)
    val agg = """SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty,
                |       sum(l_price_cents) AS price
                |FROM %s GROUP BY l_returnflag, l_linestatus
                |ORDER BY l_returnflag, l_linestatus""".stripMargin
    Seq(Stmt("CREATE",
      s"""CREATE TABLE $t (l_orderkey Int64, l_linenumber Int32, l_quantity Int64,
        |  l_price_cents Int64, l_returnflag String, l_linestatus String)
        |ENGINE = MergeTree ORDER BY (l_orderkey, l_linenumber)
        |PARTITION BY l_returnflag""".stripMargin)) ++
      (0 until 4).map(i => Stmt("INSERT",
        s"INSERT INTO $t SELECT ${cols.mkString(", ")} FROM src_li WHERE l_orderkey % 4 == $i")) ++
      Seq(
        Stmt("DELETE", chain.delete(s"DELETE FROM $t WHERE l_quantity < $q", s"l_quantity < $q")),
        Stmt("UPDATE", chain.update(
          s"UPDATE $t SET l_quantity = l_quantity + 1 WHERE l_orderkey % $m == $rr",
          "l_quantity", "l_quantity + 1", s"l_orderkey % $m = $rr")),
        Stmt("SELECT", agg.format(t), Some(chain.query(agg))),
        Stmt("ALTER_DELETE", chain.delete(
          s"ALTER TABLE $t DELETE WHERE l_returnflag = 'R' AND l_linenumber == $line",
          s"l_returnflag = 'R' AND l_linenumber = $line")),
        Stmt("OPTIMIZE", s"OPTIMIZE TABLE $t FINAL"),
        Stmt("SELECT", agg.format(t), Some(chain.query(agg))),
        Stmt("DROP", s"DROP TABLE $t"))
  }
}

object SqlLifecycle {
  val Kinds = Seq("CREATE", "INSERT", "DELETE", "UPDATE", "ALTER_DELETE", "OPTIMIZE",
    "SELECT", "MV_SELECT", "DROP")

  /** One statement; `oracle` is the plain Spark SQL its result must equal. */
  final case class Stmt(kind: String, text: String, oracle: Option[String] = None)

  def render(r: Row): String = r.toSeq.mkString("|")

  /** The script's effect on a table as a chain of CTEs over the source
    * (q251's oracle shape): each mutation adds one step, and a SELECT's
    * oracle reads the latest step.
    */
  final class Chain(base: String, cols: Seq[String]) {
    private var steps = Vector(base)
    private def last = s"s${steps.length - 1}"

    def delete(stmt: String, pred: String): String = {
      steps :+= s"SELECT * FROM $last WHERE NOT ($pred)"
      stmt
    }

    def update(stmt: String, col: String, value: String, pred: String): String = {
      val sel = cols.map(c => if (c == col) s"CASE WHEN $pred THEN $value ELSE $c END AS $c" else c)
      steps :+= s"SELECT ${sel.mkString(", ")} FROM $last"
      stmt
    }

    /** `agg` with its FROM (`%s`) bound to the current step. */
    def query(agg: String): String =
      steps.zipWithIndex.map { case (s, i) => s"s$i AS ($s)" }
        .mkString("WITH ", ", ", " ") + agg.format(last)
  }
}
