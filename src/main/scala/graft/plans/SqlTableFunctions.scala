package graft.plans

import graft.VectorizeEngine
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The engine's entry points as SQL TABLE functions, closing the gap
  * to the reference's SQL-first UX where every API is callable from a
  * query (`SELECT * FROM vectorize.search(...)` — the pg_extern
  * surface, extension/src/api.rs:116-157, 179-223). Postgres
  * schema-qualified names flatten to `vectorize_*` (Spark function
  * identifiers have no schema):
  *
  *   SELECT * FROM vectorize_search('products', 'camping backpack', 3)
  *   SELECT * FROM vectorize_search('products', 'bag', 5,
  *     'product_id < 50', 'product_name=eq.Backpack')   -- where_sql + P4 filters
  *   SELECT * FROM vectorize_hybrid_search('products', 'pencil')
  *   SELECT * FROM vectorize_search_json('products', 'pencil', 5)
  *   SELECT * FROM vectorize_rag_prompt('chat_job', 'who wrote X?')
  *   SELECT * FROM vectorize_rag('chat_job', 'who wrote X?')
  *   SELECT * FROM vectorize_table('products')
  *
  * Arguments must be literals (they parameterize plan CONSTRUCTION —
  * the query embedding happens on the driver at analysis time, the
  * reference's network boundary #1, core/src/query.rs:606-615). The
  * builder just delegates to the engine method and returns its
  * analyzed plan, so each surface answers as the Scala API does: a
  * local relation from the serving snapshot for a job under the
  * broadcast threshold, else the distributed top-k/RRF shapes —
  * broadcast rank legs, TakeOrderedAndProject — that PlanSpec locks.
  */
object SqlTableFunctions {

  private def strArg(args: Seq[Expression], i: Int, fn: String): String = {
    require(i < args.length, s"$fn: missing argument ${i + 1}")
    val e = args(i)
    require(e.foldable, s"$fn: argument ${i + 1} must be a literal, got $e")
    val v = e.eval()
    require(v != null, s"$fn: argument ${i + 1} must not be null")
    v.toString
  }

  private def intArg(args: Seq[Expression], i: Int, fn: String, default: Int): Int =
    if (i >= args.length) default
    else {
      val e = args(i)
      require(e.foldable, s"$fn: argument ${i + 1} must be a literal, got $e")
      e.eval() match {
        case n: java.lang.Number => n.intValue()
        case v => throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be an integer, got $v")
      }
    }

  private def boolArg(args: Seq[Expression], i: Int, fn: String,
      default: Boolean): Boolean =
    if (i >= args.length) default
    else {
      val e = args(i)
      require(e.foldable, s"$fn: argument ${i + 1} must be a literal, got $e")
      e.eval() match {
        case b: java.lang.Boolean => b.booleanValue()
        case v => throw new IllegalArgumentException(
          s"$fn: argument ${i + 1} must be a boolean, got $v")
      }
    }

  /** Optional return-columns CSV arg for the jsonb-style forms — the
    * reference's `return_columns` parameter matters exactly there: a
    * SQL SELECT prunes a row-returning TVF's columns for free, but
    * cannot reach inside the json payload. '' or '*' = all columns.
    */
  private def returnColsArg(args: Seq[Expression], i: Int, fn: String): Seq[String] =
    if (i >= args.length) Seq("*")
    else {
      val raw = strArg(args, i, fn).trim
      if (raw.isEmpty || raw == "*") Seq("*")
      else raw.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }

  /** Trailing `'column=op.value'` TVF arguments → the typed filter
    * map (P4), through the SAME Rust-parity `FilterValue` parser the
    * HTTP surface uses (types/Types.scala — `gte.100`, `eq.red`, a
    * bare value sniffs to Eq). */
  private def filterArgs(args: Seq[Expression], from: Int, fn: String)
      : Map[String, graft.types.FilterValue] =
    (from until args.length).map { i =>
      val raw = strArg(args, i, fn)
      val eq = raw.indexOf('=')
      require(eq > 0,
        s"$fn: filter argument ${i + 1} must be 'column=op.value', got '$raw'")
      val fv = graft.types.FilterValue.parse(raw.substring(eq + 1)).fold(
        err => throw new IllegalArgumentException(s"$fn: bad filter '$raw': $err"),
        identity)
      raw.substring(0, eq) -> fv
    }.toMap

  /** (name, min/max args, builder) for each entry point. */
  private def registrations(engine: VectorizeEngine)
      : Seq[(String, Seq[Expression] => LogicalPlan)] = Seq(
    // vectorize_search(job, query[, limit[, where_sql[, 'col=op.value'...]]])
    // — argument 4 is the reference's raw where_sql ('' = none,
    // extension/src/api.rs:116-134); any further arguments are P4
    // typed filters, so the full search surface is SQL-callable.
    "vectorize_search" -> { args: Seq[Expression] =>
      val fn = "vectorize_search"
      val whereSql =
        if (args.length >= 4) Some(strArg(args, 3, fn)).filter(_.nonEmpty)
        else None
      GraftColumnBridge.logicalPlan(engine.search(
        strArg(args, 0, fn), strArg(args, 1, fn), intArg(args, 2, fn, 10),
        filters = filterArgs(args, 4, fn), whereSql = whereSql))
    },
    // vectorize_search_json(job, query[, limit[, where_sql[,
    // return_columns_csv[, 'col=op.value'...]]]])
    "vectorize_search_json" -> { args: Seq[Expression] =>
      val fn = "vectorize_search_json"
      val whereSql =
        if (args.length >= 4) Some(strArg(args, 3, fn)).filter(_.nonEmpty)
        else None
      GraftColumnBridge.logicalPlan(engine.searchJson(
        strArg(args, 0, fn), strArg(args, 1, fn), intArg(args, 2, fn, 10),
        filters = filterArgs(args, 5, fn),
        returnCols = returnColsArg(args, 4, fn), whereSql = whereSql))
    },
    // vectorize_hybrid_search(job, query[, limit[, where_sql[,
    // 'col=op.value'...]]]) — the reference's hybrid_search carries
    // where_sql too (extension/src/api.rs:139-155)
    "vectorize_hybrid_search" -> { args: Seq[Expression] =>
      val fn = "vectorize_hybrid_search"
      val whereSql =
        if (args.length >= 4) Some(strArg(args, 3, fn)).filter(_.nonEmpty)
        else None
      GraftColumnBridge.logicalPlan(engine.hybridSearch(
        strArg(args, 0, fn), strArg(args, 1, fn), intArg(args, 2, fn, 10),
        filters = filterArgs(args, 4, fn), whereSql = whereSql))
    },
    // vectorize_hybrid_search_json(job, query[, limit[, where_sql[,
    // return_columns_csv[, 'col=op.value'...]]]])
    "vectorize_hybrid_search_json" -> { args: Seq[Expression] =>
      val fn = "vectorize_hybrid_search_json"
      val whereSql =
        if (args.length >= 4) Some(strArg(args, 3, fn)).filter(_.nonEmpty)
        else None
      GraftColumnBridge.logicalPlan(engine.hybridSearchJson(
        strArg(args, 0, fn), strArg(args, 1, fn), intArg(args, 2, fn, 10),
        filters = filterArgs(args, 5, fn),
        returnCols = returnColsArg(args, 4, fn), whereSql = whereSql))
    },
    "vectorize_rag_prompt" -> { args: Seq[Expression] =>
      val fn = "vectorize_rag_prompt"
      val rendered = engine.ragPrompt(strArg(args, 0, fn), strArg(args, 1, fn),
        numContext = intArg(args, 2, fn, VectorizeEngine.DefaultRagNumContext))
      import engine.spark.implicits._
      GraftColumnBridge.logicalPlan(
        Seq((rendered.sysPrompt, rendered.userPrompt))
          .toDF("sys_prompt", "user_prompt"))
    },
    // vectorize_rag(job, query[, chat_model[, task[, num_context[,
    // force_trim]]]]) — the full retrieve→render→chat pg_extern
    // (extension/src/api.rs:179-205) as a TVF. The chat call is a
    // provider boundary and happens at plan CONSTRUCTION on the
    // driver, exactly where vectorize_rag_prompt renders (and where
    // the reference's pg_extern body runs); argument order matches
    // the reference minus api_key (provider config owns keys here).
    "vectorize_rag" -> { args: Seq[Expression] =>
      val fn = "vectorize_rag"
      GraftColumnBridge.logicalPlan(engine.rag(
        strArg(args, 0, fn), strArg(args, 1, fn),
        chatModel =
          if (args.length >= 3) strArg(args, 2, fn)
          else VectorizeEngine.DefaultChatModel,
        task = if (args.length >= 4) strArg(args, 3, fn)
          else VectorizeEngine.DefaultRagTask,
        numContext = intArg(args, 4, fn, VectorizeEngine.DefaultRagNumContext),
        forceTrim = boolArg(args, 5, fn, default = false)))
    },
    "vectorize_table" -> { args: Seq[Expression] =>
      GraftColumnBridge.logicalPlan(
        engine.projectView(strArg(args, 0, "vectorize_table")))
    })

  /** Install on the engine's session. Idempotent; the last-registered
    * engine owns the names (same contract as the vectorize_embed
    * rule).
    */
  def register(engine: VectorizeEngine): Unit =
    registrations(engine).foreach { case (name, builder) =>
      GraftColumnBridge.registerTableFunction(engine.spark,
        FunctionIdentifier(name),
        new ExpressionInfo(SqlTableFunctions.getClass.getName, name),
        builder)
    }
}
