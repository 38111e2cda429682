package graft.dialect

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** The EdgeLake SQL dialect front-end: parses the reference's
  * `sql <dbms> <options> "SELECT ..."` command surface and compiles it to
  * ONE declarative Spark plan.
  *
  * Reference grammar (all citations /root/reference):
  *  - command options `cmd/member_cmd.py:110-135` (format, timezone,
  *    extend, include, ...); dialect functions registry
  *    `dbms/unify_results.py:631-643`; SELECT parser
  *    `generic/al_parser.py:170-342` (projection, where, group by,
  *    order by [desc], limit [n per col]); casting suffixes
  *    `generic/al_parser.py:406-429` + `generic/utils_columns.py:1963-1977`.
  *
  * Design stance (SURVEY §7): EdgeLake's remote/local two-level rewrite is
  * NOT rebuilt — `increments(...)` becomes two grouping expressions,
  * `period(...)` a two-phase anchored filter, `avg/sum` exact decimal
  * aggregates, and Catalyst owns partial/final aggregation, pushdown and
  * merge. The compiled plan is the one you would hand-write with the
  * DataFrame API, so it scales like any Spark query.
  */
object EdgeSql {

  /** Parsed `sql` command: target dbms, key=value options, SELECT text. */
  final case class Command(dbms: String, options: Map[String, String],
      select: String)

  /** Split `sql <dbms> [k = v ...] "SELECT ..."` into its three parts.
    * Option values may be parenthesised lists (extend/include). */
  def parseCommand(cmd: String): Command = {
    val trimmed = cmd.trim
    require(trimmed.toLowerCase.startsWith("sql "),
      s"not a sql command: $cmd")
    val rest = trimmed.drop(4).trim
    val dbmsEnd = rest.indexWhere(_.isWhitespace)
    require(dbmsEnd > 0, s"missing dbms in: $cmd")
    val dbms = rest.substring(0, dbmsEnd)
    var s = rest.substring(dbmsEnd).trim
    var opts = Map.empty[String, String]
    // options run until the quoted/bare SELECT begins
    var done = false
    while (!done) {
      if (s.isEmpty) throw new IllegalArgumentException(s"no select in: $cmd")
      val low = s.toLowerCase
      if (low.startsWith("select") || low.startsWith("\"select") ||
          low.startsWith("'select")) { done = true }
      else {
        val eq = s.indexOf('=')
        require(eq > 0, s"bad option syntax at: $s")
        val key = s.substring(0, eq).trim.toLowerCase
        val v = s.substring(eq + 1).trim
        val (value, rest2) =
          if (v.startsWith("(")) {
            val close = v.indexOf(')')
            require(close > 0, s"unclosed option list: $v")
            (v.substring(1, close).trim, v.substring(close + 1))
          } else {
            val sp = v.indexWhere(_.isWhitespace)
            if (sp < 0) (v, "") else (v.substring(0, sp), v.substring(sp))
          }
        opts += key -> value
        s = rest2.trim
      }
    }
    // strip only a MATCHING quote pair — a blind stripSuffix('\'') would
    // eat the closing quote of a trailing string literal
    val select =
      if (s.length >= 2 && (s.head == '"' || s.head == '\'') &&
          s.last == s.head) s.substring(1, s.length - 1).trim
      else s.trim
    Command(dbms, opts, select)
  }

  // -------------------------------------------------------------------
  // SELECT statement model
  // -------------------------------------------------------------------

  final case class ProjItem(raw: String, alias: Option[String])

  /** Two-table equi-join in FROM (`a [inner|left] join b on a.x = b.y
    * [and ...]`). `on` pairs are (left column, right column),
    * qualifiers stripped; `joinType` is inner (default) or left.
    * BEYOND-PARITY: the reference's SQLite/Postgres engines report
    * `is_suport_join()` = False (dbms/sqlite_dbms.py:113,
    * psql_dbms.py:206) — the dialect grammar here fronts the Spark
    * join plan (and, for inner joins, the standing join-matview
    * serving layer, [[JoinMatViewServe]]). */
  final case class JoinSpec(table: String, on: Seq[(String, String)],
      joinType: String = "inner")

  final case class Select(
      distinct: Boolean,
      projection: Seq[ProjItem],
      table: String,
      join: Option[JoinSpec],
      where: Option[String],
      groupBy: Seq[String],
      // post-aggregation predicate over OUTPUT column names (aliases
      // or default agg names) — the dialect's HAVING. Group-row
      // filtering only; never sees pre-aggregation rows.
      having: Option[String],
      orderBy: Seq[(String, Boolean)], // (expr, descending)
      limit: Option[Int],
      limitPer: Option[String])

  /** Line-oriented SELECT parser (the reference's grammar is regular —
    * al_parser.py is a hand parser too). Splits on top-level keywords,
    * then projection items on top-level commas. */
  def parseSelect(sql: String): Select = {
    val text = sql.trim.replaceAll("\\s+", " ")
    val low = text.toLowerCase
    require(low.startsWith("select "), s"not a select: $sql")

    // find top-level keyword positions (not inside parens/quotes)
    def findKeyword(kw: String, from: Int): Int = {
      var depth = 0; var i = from
      val pat = " " + kw + " "
      while (i < low.length) {
        low.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case '\'' => i += 1 + low.substring(i + 1).indexOf('\'')
          case _ =>
            if (depth == 0 && low.regionMatches(i, pat, 0, pat.length))
              return i
        }
        i += 1
      }
      -1
    }
    val kwFrom = findKeyword("from", 0)
    require(kwFrom > 0, s"no FROM in: $sql")
    val kwWhere = findKeyword("where", kwFrom)
    val kwGroup = findKeyword("group by", kwFrom)
    val kwHaving = findKeyword("having", kwFrom)
    val kwOrder = findKeyword("order by", kwFrom)
    val kwLimit = findKeyword("limit", math.max(kwOrder, kwFrom))
    val ends = Seq(kwWhere, kwGroup, kwHaving, kwOrder, kwLimit,
      low.length).filter(_ >= 0)

    def section(start: Int, headerLen: Int): String = {
      val end = ends.filter(_ > start).min
      text.substring(start + headerLen, end).trim
    }

    var proj = text.substring("select".length, kwFrom).trim
    val distinct = proj.toLowerCase.startsWith("distinct ")
    if (distinct) proj = proj.substring("distinct ".length)

    val (table, join) = parseFrom(section(kwFrom, " from ".length))
    val where = if (kwWhere < 0) None else Some(section(kwWhere, " where ".length))
    val groupBy = if (kwGroup < 0) Nil
      else splitTopLevel(section(kwGroup, " group by ".length), ',').map(_.trim)
    val having = if (kwHaving < 0) None
      else Some(section(kwHaving, " having ".length))
    require(having.isEmpty || kwGroup >= 0,
      "HAVING requires a GROUP BY")
    val orderBy = if (kwOrder < 0) Nil
      else splitTopLevel(section(kwOrder, " order by ".length), ',').map { o =>
        val t = o.trim
        val lower = t.toLowerCase
        if (lower.endsWith(" desc")) (t.dropRight(5).trim, true)
        else if (lower.endsWith(" asc")) (t.dropRight(4).trim, false)
        else (t, false)
      }
    var limit: Option[Int] = None
    var limitPer: Option[String] = None
    if (kwLimit >= 0) {
      val l = section(kwLimit, " limit ".length)
      val parts = l.split("\\s+")
      limit = Some(parts(0).toInt)
      if (parts.length >= 3 && parts(1).equalsIgnoreCase("per"))
        limitPer = Some(parts(2))
    }
    val items = splitTopLevel(proj, ',').map { p =>
      val t = p.trim
      val asIdx = t.toLowerCase.lastIndexOf(" as ")
      // only treat top-level ` as ` (not inside parens) as alias
      if (asIdx > 0 && parenDepthAt(t, asIdx) == 0)
        ProjItem(t.substring(0, asIdx).trim, Some(t.substring(asIdx + 4).trim))
      else ProjItem(t, None)
    }
    Select(distinct, items, table, join, where, groupBy, having, orderBy,
      limit, limitPer)
  }

  /** FROM section: `t` or `a [inner] join b on a.x = b.y [and ...]`.
    * ON conjuncts must be equalities, and EACH conjunct must reference
    * one column from each join side — a conjunct whose two sides
    * qualify to the same table (`a.x = a.y`) is rejected at parse.
    * This is a deliberate dialect divergence from ANSI (which allows
    * same-table predicates inside ON as filters): put such predicates
    * in the WHERE clause instead. Qualifiers (when present) must name
    * one of the two tables and fix each column's side — bare columns
    * default to (left, right) in written order. */
  private def parseFrom(fromTxt: String): (String, Option[JoinSpec]) = {
    val m =
      "(?i)^(\\S+)\\s+(?:(inner|left)\\s+)?join\\s+(\\S+)\\s+on\\s+(.+)$".r
        .findFirstMatchIn(fromTxt.trim)
    m match {
      case None => (fromTxt.trim, None)
      case Some(jm) =>
        val jt = Option(jm.group(2)).map(_.toLowerCase)
          .getOrElse("inner")
        val (lt, rt) = (jm.group(1), jm.group(3))
        def bare(n: String) =
          if (n.contains('.')) n.substring(n.lastIndexOf('.') + 1) else n
        val pairs = jm.group(4).split("(?i)\\s+and\\s+").toSeq.map { c =>
          val sides = c.split("=").map(_.trim)
          require(sides.length == 2,
            s"join ON conjunct must be an equality: $c")
          def sideOf(ref: String): Option[String] = {
            val dot = ref.indexOf('.')
            if (dot < 0) None
            else {
              val q = ref.substring(0, dot)
              if (q == lt || q == bare(lt)) Some("left")
              else if (q == rt || q == bare(rt)) Some("right")
              else throw new IllegalArgumentException(
                s"join ON qualifier '$q' names neither $lt nor $rt")
            }
          }
          def colOf(ref: String): String = {
            val dot = ref.indexOf('.')
            val c0 = if (dot < 0) ref else ref.substring(dot + 1)
            require(c0.matches("[A-Za-z_][A-Za-z0-9_]*"),
              s"join ON side must be a column reference: $ref")
            c0
          }
          (sideOf(sides(0)), sideOf(sides(1))) match {
            // both qualifiers resolve to the SAME table: not an
            // equi-join conjunct (e.g. `a.x = a.y`) — rejecting here
            // beats silently compiling a wrong by-name join when a
            // same-named column happens to exist on the other side
            case (Some(a), Some(b)) if a == b =>
              throw new IllegalArgumentException(
                s"join ON conjunct '$c' compares two columns of the " +
                  "same table — each side of the equality must come " +
                  "from a different join side")
            case (Some("right"), _) | (_, Some("left")) =>
              (colOf(sides(1)), colOf(sides(0)))
            case _ => (colOf(sides(0)), colOf(sides(1)))
          }
        }
        (lt, Some(JoinSpec(rt, pairs, jt)))
    }
  }

  /** The dialect's inner equi-join plan: disjoint column names across
    * the sides (TPC-H-style prefixes) make the by-name condition
    * unambiguous; violations fail loudly at compile, never resolve to
    * a trivially-true self-comparison. */
  private[dialect] def joinedBase(left: DataFrame, right: DataFrame,
      on: Seq[(String, String)], joinType: String = "inner"): DataFrame = {
    val overlap = left.columns.toSet intersect right.columns.toSet
    require(overlap.isEmpty,
      s"joined tables share column name(s) ${overlap.mkString(", ")} — " +
        "the dialect join binds columns by bare name; create a view " +
        "renaming one side first")
    on.foreach { case (l, r) =>
      require(left.columns.contains(l),
        s"left join column $l not found")
      require(right.columns.contains(r),
        s"right join column $r not found")
    }
    left.join(right,
      on.map { case (l, r) => col(l) === col(r) }.reduce(_ && _),
      joinType)
  }

  private def parenDepthAt(s: String, pos: Int): Int =
    s.substring(0, pos).count(_ == '(') - s.substring(0, pos).count(_ == ')')

  private[dialect] def splitTopLevel(s: String, sep: Char): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0; var cur = new StringBuilder; var inQ = false
    s.foreach { c =>
      if (c == '\'') inQ = !inQ
      if (!inQ) c match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      if (c == sep && depth == 0 && !inQ) { out += cur.toString; cur = new StringBuilder }
      else cur += c
    }
    if (cur.nonEmpty) out += cur.toString
    out.result()
  }

  // -------------------------------------------------------------------
  // Compiler
  // -------------------------------------------------------------------

  /** Exact decimal view of a money-scale double (cross-engine-stable
    * aggregation; mirrors the reference's sum/count avg decomposition,
    * unify_results.py:236-277). */
  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  private[dialect] val aggFns = Set("count", "sum", "min", "max", "avg", "range")

  /** Compile one `sql ...` command to a DataFrame. `load` resolves a bare
    * table name (the catalog boundary — tests/driver inject the parquet
    * loader). */
  def query(spark: SparkSession, load: String => DataFrame, command: String,
      vars: Map[String, String] = Map.empty,
      nodeAddress: (String, Int) = ("127.0.0.1", 0)): DataFrame = {
    val cmd = parseCommand(command)
    val sel = parseSelect(cmd.select)

    // extend item grammar (process_extended_columns,
    // unify_results.py:1490-1545): [@|!|+]name[.type][ as alias] —
    // @predefined node values, !dictionary variables, +literals
    val extendCols: Seq[(String, Column)] =
      cmd.options.get("extend").toSeq.flatMap(_.split(",")).map(_.trim)
        .filter(_.nonEmpty).map { item =>
          val (spec, alias) = item.split("(?i)\\s+as\\s+") match {
            case Array(s, a) => (s.trim, Some(a.trim))
            case _ => (item, None)
          }
          // strip a dtype suffix only when it IS one of the known type
          // names — otherwise a literal like `+3.14` or `+file.txt`
          // would silently truncate at the dot
          val knownTypes = Set("int", "float", "str", "varchar", "string")
          val dotIdx = spec.lastIndexOf('.')
          val (nameWithPrefix, dtype) =
            if (dotIdx > 0 &&
                knownTypes.contains(spec.substring(dotIdx + 1).trim.toLowerCase))
              (spec.substring(0, dotIdx).trim,
                spec.substring(dotIdx + 1).trim.toLowerCase)
            else (spec, "varchar")
          def typed(c: Column): Column = dtype match {
            case "int" => c.cast("long")
            case "float" => c.cast("double")
            case _ => c.cast("string")
          }
          val bare = nameWithPrefix.drop(1)
          val value: Column = nameWithPrefix match {
            case "@table_name" => lit("") // replaced by the null marker below
            case "@dbms_name" | "@dbms" => lit(cmd.dbms)
            case "@ip" => lit(nodeAddress._1)
            case "@port" => lit(nodeAddress._2)
            case v if v.startsWith("!") =>
              typed(lit(vars.getOrElse(bare,
                throw new IllegalArgumentException(
                  s"extend: undefined variable !$bare"))))
            case v if v.startsWith("+") => typed(lit(bare))
            case other =>
              throw new IllegalArgumentException(s"unsupported extend: $other")
          }
          val outName = alias.getOrElse(
            if (nameWithPrefix == "@table_name") "table_name"
            else if (nameWithPrefix == "@dbms_name" ||
              nameWithPrefix == "@dbms") "dbms_name"
            else bare)
          // a NULL-literal value marks "stamp the per-table name here"
          (outName, if (nameWithPrefix == "@table_name") null else value)
        }

    // include=(t2, t3): union the same query over several tables with
    // provenance stamped per table (member_cmd.py:110-113).
    // Names may be dbms-qualified (db.table) — the catalog resolves the
    // bare table (the dbms is the command's first token in the reference)
    sel.join match {
      case Some(j) =>
        // the join grammar composes with the plain SELECT machinery
        // (WHERE/GROUP BY/HAVING/ORDER/LIMIT over the joined frame);
        // per-table provenance options don't — reject, don't ignore
        require(cmd.options.get("include").forall(_.trim.isEmpty) &&
            cmd.options.get("extend").forall(_.trim.isEmpty),
          "include=/extend= are per-table provenance options — not " +
            "valid on a JOIN query")
        def bare(n: String) =
          if (n.contains('.')) n.substring(n.lastIndexOf('.') + 1) else n
        // ingest system columns are stamped on BOTH sides of engine
        // tables — and `__par` is the physical partition-layout
        // column of time-partitioned tables — so two such tables
        // would trip the disjoint-names requirement; none is a user
        // column, so the join plan drops them (AFTER load, so the
        // injected __par partition-prune filter is already in the
        // plan and pruning is retained)
        def noSys(df: DataFrame) =
          df.drop("row_id", "insert_timestamp", "tsd_name", "tsd_id",
            "__par")
        val base = joinedBase(noSys(load(bare(sel.table))),
          noSys(load(bare(j.table))), j.on, j.joinType)
        compileSelect(spark, base, sel, cmd.options)
      case None =>
        val tables = (sel.table +: cmd.options.get("include").toSeq
          .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))
          .map(n =>
            if (n.contains('.')) n.substring(n.lastIndexOf('.') + 1) else n)

        val base = tables.map { tn =>
          val df0 = load(tn)
          extendCols.foldLeft(df0) { case (df, (name, v)) =>
            df.withColumn(name, if (v == null) lit(tn) else v)
          }
        }.reduce((a, b) => a.unionByName(b, allowMissingColumns = true))

        compileSelect(spark, base, sel, cmd.options)
    }
  }

  private def compileSelect(spark: SparkSession, base: DataFrame, sel: Select,
      options: Map[String, String]): DataFrame = {
    val tz = options.get("timezone")

    // ---- WHERE: split out period(...), keep the rest for Catalyst.
    // Date literals are caller-timezone -> converted to UTC at parse
    // (unify_results.py:722-729); date functions fold to UTC instants ----
    var df = base
    var whereRest: Option[String] = None
    def normalize(w: String): String = {
      val folded = DateLiterals.rewrite(w)
      tz.map(z => DateLiterals.localizeLiterals(folded, z)).getOrElse(folded)
    }
    sel.where.foreach { w =>
      val (periodSpec, rest) = extractPeriod(w)
      rest.foreach(r => df = df.filter(expr(normalize(r))))
      whereRest = rest
      periodSpec.foreach { case (unit, n, anchor, tsCol, extraFilter) =>
        val f = extraFilter.map(e => expr(normalize(e)))
        val anchorUtc = tz.map(z =>
          DateLiterals.localizeLiterals(s"'$anchor'", z).stripPrefix("'")
            .stripSuffix("'")).getOrElse(anchor)
        df = Period.apply(df, tsCol, anchorUtc, unit, n, f)
      }
    }

    // ---- projection: classify items ----
    var aggs = Seq.empty[Column]
    var plain = Seq.empty[Column]
    var sawAgg = false
    var sawIncrements = false
    var forceDistinct = false

    sel.projection.foreach { item =>
      val raw = item.raw
      val fn = functionName(raw)
      fn match {
        case Some("increments") =>
          val args = splitTopLevel(argsOf(raw), ',').map(_.trim)
          // auto-sizing (`increments(ts)` / `increments(points, ts)`):
          // choose (unit, n) so the WHERE time range yields ~points
          // buckets, default 1000 (unify_results.py:339-459, :352)
          def autoSize(c: String, points: Int): (String, Int, String) =
            whereRest.flatMap(w =>
              timeBounds(DateLiterals.rewrite(w), c)) match {
              case Some((lo, hi)) =>
                val (u, n) = Increments.resolve(lo, hi, points)
                (u, n, c)
              case None => ("hour", 1, c) // unbounded range: fixed default
            }
          val (unit0, n0, tsCol) = args match {
            case Seq(u, nn, c) => (u, nn.toInt, c)
            case Seq(p, c) if p.forall(_.isDigit) => autoSize(c, p.toInt)
            case Seq(c) => autoSize(c, 1000)
            case other => throw new IllegalArgumentException(
              s"increments(${other.mkString(",")})")
          }
          // week folds to 7 days (unify_results.py:321-323)
          val (unit, n) =
            if (unit0 == "week") ("day", n0 * 7) else (unit0, n0)
          val ts = col(tsCol)
          val bucketCols =
            if (unit == "year") Seq(
              (floor(year(ts) / n) * n).cast("int").as("year_bucket"))
            else Seq(
              date_format(date_trunc(Increments.parentUnit(unit), ts),
                bucketFormat(Increments.parentUnit(unit)))
                .as(s"${unit}_parent"),
              floor(Increments.extractUnit(unit, ts) / n).as(s"${unit}_bucket"))
          plain ++= bucketCols
          sawIncrements = true
        case Some("distinct") =>
          // distinct(x) projection function: remote ships distinct values,
          // local re-dedups via an added GROUP BY on the staged column
          // (unify_results.py:78-110) — here: project + global dedup
          val c = col(argsOf(raw).trim)
          plain :+= item.alias.map(c.as).getOrElse(c)
          forceDistinct = true
        case Some(f) if aggFns(f) =>
          sawAgg = true
          // split off any `::` cast chain BEFORE taking the arg parens —
          // min(ts)::timediff(max(ts)) ends with the cast's ')', not the
          // aggregate's
          val (aggBase, aggCasts) = splitCasts(raw)
          val argRaw = argsOf(aggBase)
          val alias = item.alias.getOrElse(
            s"$f(${argRaw.replaceAll("\\s+", "")})".replace("*", "star"))
          aggs :+= compileAgg(f, argRaw, alias,
            approx = options.get("approx").contains("true"),
            casts = aggCasts, tz = tz)
        case Some("date_trunc") | Some("extract") | None | Some(_) =>
          // plain column (with optional :: casts) or passthrough scalar fn
          val c = compileScalar(raw, tz)
          val named = item.alias.map(c.as).getOrElse(
            if (raw.matches("[A-Za-z_][A-Za-z0-9_]*")) c else c.as(
              raw.replaceAll("[^A-Za-z0-9_]", "_")))
          plain :+= named
          if (sel.groupBy.nonEmpty || sawAgg) () // grouped below by name
      }
    }

    // ---- grouping ----
    val userGroupCols = sel.groupBy.map { g =>
      // group-by may reference a projected alias or a raw column
      g.trim
    }
    val hasGrouping = sawAgg || sawIncrements

    var out: DataFrame =
      if (hasGrouping) {
        // extended/provenance columns lead the group-by
        // (unify_results.py:1260-1262)
        val extendNames = Seq("table_name", "dbms_name", "ip", "port")
          .filter(df.columns.contains)
        val plainKeyNames = plain.map(colName)
        val keyCols: Seq[Column] =
          (extendNames.map(col) ++
            plain.filterNot(p => extendNames.contains(colName(p)))) ++
            userGroupCols.filterNot(g => plainKeyNames.contains(g) ||
              extendNames.contains(g)).map(col)
        if (keyCols.isEmpty) df.agg(aggs.head, aggs.tail: _*)
        else if (aggs.isEmpty) df.select(keyCols: _*).distinct()
        else df.groupBy(keyCols: _*).agg(aggs.head, aggs.tail: _*)
      } else {
        val extendNames = Seq("table_name", "dbms_name", "ip", "port")
          .filter(df.columns.contains)
        val cols = extendNames.map(col) ++ plain
        if (sel.projection.exists(_.raw.trim == "*")) df
        else df.select(cols: _*)
      }

    // duplicate projected names are errors (unify_results.py:1106-1111)
    val outNames = out.columns
    val dups = outNames.groupBy(identity).collect {
      case (name, occ) if occ.length > 1 => name
    }
    if (dups.nonEmpty) throw new IllegalArgumentException(
      s"duplicate projected column name(s): ${dups.mkString(", ")}")

    // ---- having: group-row filter over OUTPUT names, after the
    // aggregate and before distinct / limit-per / order ----
    sel.having.foreach { h =>
      require(hasGrouping, "HAVING requires an aggregated query")
      out = out.filter(expr(h))
    }

    if (sel.distinct || forceDistinct) out = out.distinct()

    // ---- limit n per col (al_parser.py:327-336): top-n per key over the
    // ORDER BY spec, applied before the global sort ----
    sel.limitPer.foreach { perCol =>
      val ord = sel.orderBy.map { case (e, desc) =>
        val c = col(e); if (desc) c.desc else c.asc
      }
      require(ord.nonEmpty, "limit per requires an order by")
      val w = Window.partitionBy(col(perCol)).orderBy(ord: _*)
      out = out.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= sel.limit.getOrElse(1))
        .drop("__rn")
    }

    // ---- order by / limit ----
    if (sel.orderBy.nonEmpty) {
      val ord = sel.orderBy.map { case (e, desc) =>
        val c = col(e); if (desc) c.desc else c.asc
      }
      out = out.orderBy(ord: _*)
    }
    if (sel.limitPer.isEmpty) sel.limit.foreach(n => out = out.limit(n))
    out
  }

  private def colName(c: Column): String = {
    val s = c.toString
    val asIdx = s.toLowerCase.lastIndexOf(" as ")
    if (asIdx > 0) s.substring(asIdx + 4).replaceAll("[`]", "").trim else s
  }

  private[dialect] def bucketFormat(parent: String): String = parent match {
    case "year" => "yyyy"
    case "month" => "yyyy-MM"
    case "day" => "yyyy-MM-dd"
    case _ => "yyyy-MM-dd HH:mm:ss"
  }

  /** Leading function name of a projection item, if any. */
  private[dialect] def functionName(raw: String): Option[String] = {
    val m = "^([A-Za-z_]+)\\s*\\(".r.findFirstMatchIn(raw.trim)
    m.map(_.group(1).toLowerCase)
  }

  private[dialect] def argsOf(raw: String): String = {
    val t = raw.trim
    val open = t.indexOf('(')
    val close = t.lastIndexOf(')')
    require(open >= 0 && close > open, s"malformed function: $raw")
    t.substring(open + 1, close)
  }

  /** Aggregate functions with the reference's decomposition semantics
    * (unify_results.py:190-307), decimal-stabilized for doubles. */
  private def compileAgg(f: String, arg: String, alias: String,
      approx: Boolean, casts: Seq[String], tz: Option[String]): Column = {
    val a = arg.trim
    // aggregate arguments may be full expressions (sum(a*b)) — the
    // unnamed-function passthrough path of the reference
    // (unify_results.py:586-625)
    def ac: Column =
      if (a.matches("[A-Za-z_][A-Za-z0-9_.]*")) col(a) else expr(a)
    val base: Column = f match {
      case "count" =>
        if (a == "*") count(lit(1))
        else if (a.toLowerCase.startsWith("distinct ")) {
          val c = col(a.substring(9).trim)
          // approx=true: HLL sketch instead of exact two-phase distinct —
          // the 100 TB default (SURVEY §2.4 count-distinct row)
          if (approx) approx_count_distinct(c)
          else countDistinct(c)
        }
        else count(ac)
      case "sum" => sum(dec(ac)).cast(DoubleType)
      case "min" => min(ac)
      case "max" => max(ac)
      case "avg" =>
        // remote SUM+COUNT -> local SUM/SUM (unify_results.py:236-277):
        // exact decimal sum over count, one partial/final agg in Spark
        sum(dec(ac)).cast(DoubleType) / count(ac)
      case "range" =>
        abs(max(ac) - min(ac))
      case other => throw new IllegalArgumentException(s"agg $other")
    }
    // `::` cast chains apply to aggregate outputs too — the reference's
    // own flagship example is min(ts)::timediff(max(ts))
    // (utils_columns.py:1901)
    casts.foldLeft(base)((c, cst) => applyCast(c, cst, tz)).as(alias)
  }

  /** Split a projection item into (base expression, `::` cast suffixes)
    * at paren depth 0 — `min(ts)::timediff(max(ts))` must not split
    * inside the cast argument. */
  private def splitCasts(raw: String): (String, Seq[String]) = {
    val parts = scala.collection.mutable.ArrayBuffer.empty[String]
    val cur = new StringBuilder
    var depth = 0
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (ch == '(') { depth += 1; cur.append(ch); i += 1 }
      else if (ch == ')') { depth -= 1; cur.append(ch); i += 1 }
      else if (depth == 0 && ch == ':' && i + 1 < raw.length &&
          raw.charAt(i + 1) == ':') {
        parts += cur.toString; cur.clear(); i += 2
      }
      else { cur.append(ch); i += 1 }
    }
    parts += cur.toString
    (parts.head, parts.tail.toSeq)
  }

  /** Scalar projection item: bare column, date_trunc/extract passthrough,
    * and the `::` casting-suffix chain (utils_columns.py:1963-1977). */
  private def compileScalar(raw: String, tz: Option[String]): Column = {
    val (head0, casts) = splitCasts(raw)
    val base: Column = {
      val head = head0.trim
      functionName(head) match {
        case Some("date_trunc") =>
          val args = splitTopLevel(argsOf(head), ',').map(_.trim)
          date_trunc(args(0).stripPrefix("'").stripSuffix("'"), col(args(1)))
        case Some("extract") =>
          expr(head)
        case _ => if (head.matches("[A-Za-z_][A-Za-z0-9_.]*")) col(head)
          else expr(head)
      }
    }
    casts.foldLeft(base)((c, cst) => applyCast(c, cst, tz))
  }

  /** One `::` casting suffix (the reference's casting_methods_ registry,
    * utils_columns.py:1963-1977). */
  /** Pure scalar builtins reachable from `::function(expr)`. Everything
    * else — notably reflect/java_method (arbitrary static Java calls),
    * generators, and aggregates — is rejected at parse time. */
  private val functionAllowlist: Set[String] = Set(
    // numeric
    "abs", "ceil", "ceiling", "floor", "round", "bround", "sqrt", "cbrt",
    "exp", "ln", "log", "log2", "log10", "pow", "power", "pmod", "mod",
    "sign", "signum", "greatest", "least", "rint", "truncate",
    // string
    "upper", "lower", "length", "char_length", "character_length",
    "trim", "ltrim", "rtrim", "lpad", "rpad", "substring", "substr",
    "instr", "locate", "position", "concat", "concat_ws", "replace",
    "translate", "reverse", "left", "right", "initcap", "repeat",
    "split_part", "format_string", "format_number", "ascii", "chr",
    "char", "btrim", "levenshtein", "soundex", "regexp_replace",
    "regexp_extract", "regexp_like", "rlike", "like", "startswith",
    "endswith", "contains",
    // null handling / conditionals
    "coalesce", "nullif", "nvl", "nvl2", "if", "ifnull", "isnull",
    "isnotnull", "nanvl",
    // datetime (deterministic forms)
    "year", "quarter", "month", "day", "dayofmonth", "dayofweek",
    "dayofyear", "weekofyear", "hour", "minute", "second", "date_trunc",
    "trunc", "to_date", "to_timestamp", "date_add", "date_sub",
    "datediff", "add_months", "months_between", "last_day", "next_day",
    // unix_timestamp is allowed only WITH arguments (the zero-arg form
    // is the wall clock — rejected separately in the validator)
    "unix_timestamp", "from_unixtime", "extract", "date_part",
    "date_format", "make_date", "make_timestamp",
    // type/representation
    "bin", "hex", "unhex", "conv", "base64", "unbase64", "md5", "sha1",
    "sha2", "crc32", "hash", "xxhash64", "encode", "decode",
    "to_char", "to_number", "typeof")

  private def applyCast(c0: Column, cast0: String, tz: Option[String])
      : Column = {
    val cst = cast0.trim
    val fn = cst.takeWhile(ch => ch.isLetter)
    val arg = if (cst.contains("(")) cst.substring(cst.indexOf('(') + 1,
      cst.lastIndexOf(')')) else ""
    fn match {
      case "int" => c0.cast("long")
      case "str" => c0.cast("string")
      case "float" =>
        // float(n) = round to n digits; float(%n) additionally renders
        // with thousands separators ("{:,.nf}", utils_columns.py:1787 —
        // HALF_EVEN in both format_number and python/fmt)
        if (arg.startsWith("%")) {
          val digits = if (arg.length > 1) arg.substring(1).toInt else 2
          format_number(c0.cast("double"), digits)
        } else
          round(c0.cast("double"), if (arg.isEmpty) 2 else arg.toInt)
      case "format" =>
        // "{spec}".format(value) (cast_with_format,
        // utils_columns.py:1837-1848) — the printf-expressible subset
        val fixed = "^:\\.(\\d+)f$".r
        val thousands = "^:,\\.(\\d+)f$".r
        val intPad = "^:(0?)(\\d+)d$".r
        arg.trim match {
          case fixed(d) => format_string(s"%.${d}f", c0.cast("double"))
          case thousands(d) => format_number(c0.cast("double"), d.toInt)
          case intPad(z, w) =>
            format_string(s"%${if (z.nonEmpty) "0" else ""}${w}d",
              c0.cast("long"))
          case other =>
            throw new IllegalArgumentException(s"unsupported format($other)")
        }
      case "timediff" =>
        // HH:MM:SS.f of |value - other| (ret_time_diff,
        // utils_columns.py:1895-1913: seconds_to_hms + frac*100000)
        val other = expr(arg).cast("timestamp")
        val secs = abs(c0.cast("timestamp").cast("double") -
          other.cast("double"))
        val h = floor(secs / 3600).cast("long")
        val m = floor((secs - h * 3600) / 60).cast("long")
        val s2 = floor(secs - h * 3600 - m * 60).cast("long")
        val frac = floor((secs - floor(secs)) * 100000).cast("long")
        format_string("%02d:%02d:%02d.%d", h, m, s2, frac)
      case "ljust" =>
        // pad-or-truncate (cast_to_just, utils_columns.py:1816-1822):
        // Spark's rpad both pads AND shortens to the FIRST n chars —
        // exactly python ljust + [:n]
        rpad(c0.cast("string"), arg.toInt, " ")
      case "rjust" =>
        // rjust truncation keeps the LAST n chars (`[-length:]`,
        // utils_columns.py:1827); Spark's lpad would keep the first
        val n = arg.toInt
        val s = c0.cast("string")
        when(length(s) > n, substring(s, -n, n))
          .otherwise(lpad(s, n, " "))
      case "lstrip" => ltrim(c0.cast("string"))
      case "rstrip" => rtrim(c0.cast("string"))
      case "replace" =>
        // FIRST-occurrence only (str.replace(a, b, 1),
        // utils_columns.py:1863) — regexp_replace would replace all
        val m = "(.+) by (.*)".r.findFirstMatchIn(arg).getOrElse(
          throw new IllegalArgumentException(s"replace($arg)"))
        val a = m.group(1).trim
        val b = m.group(2).trim
        val s = c0.cast("string")
        val pos = instr(s, a)
        when(pos === 0, s).otherwise(concat(
          s.substr(lit(1), pos - 1), lit(b),
          s.substr(pos + a.length, lit(Int.MaxValue))))
      case "function" =>
        // the reference evals arbitrary PYTHON over the row
        // (cast_by_function, utils_columns.py:1870-1891) — python parity
        // is deliberately excluded (SURVEY §2.9 call). The safe subset
        // exposed instead: a Spark SQL scalar expression where `value`
        // refers to the current column — codegen'd, and restricted to a
        // vetted scalar-builtin allowlist (reflect()/java_method() reach
        // arbitrary static Java; subqueries reach the whole catalog —
        // both rejected here, BEFORE resolution)
        val parsed = org.apache.spark.sql.catalyst.parser.CatalystSqlParser
          .parseExpression(arg)
        parsed.foreach {
          case _: org.apache.spark.sql.catalyst.expressions.PlanExpression[_] =>
            throw new IllegalArgumentException(
              "::function: subquery expressions are not allowed")
          case f: org.apache.spark.sql.catalyst.analysis.UnresolvedFunction =>
            val n = f.nameParts.last.toLowerCase(java.util.Locale.ROOT)
            if (!functionAllowlist.contains(n))
              throw new IllegalArgumentException(
                s"::function: '$n' is not in the safe scalar allowlist")
            // unix_timestamp(ts) is deterministic; unix_timestamp() is
            // the current wall clock — arity-gate the zero-arg form
            if (n == "unix_timestamp" && f.arguments.isEmpty)
              throw new IllegalArgumentException(
                "::function: zero-arg unix_timestamp() is the current " +
                  "time (nondeterministic) — pass a timestamp argument")
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
            // bare CURRENT_TIMESTAMP / CURRENT_DATE / NOW etc. parse as
            // attributes and are later resolved by Spark's
            // literal-function resolution to wall-clock/session values —
            // the only attribute the contract admits is `value`
            if (!a.name.equalsIgnoreCase("value"))
              throw new IllegalArgumentException(
                s"::function: unknown identifier '${a.name}' — only " +
                  "'value' (the current column) may be referenced")
          case _ => ()
        }
        val substituted = parsed.transformUp {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.name.equalsIgnoreCase("value") =>
            org.apache.spark.sql.graftbridge.ColumnBridge.expression(c0)
        }
        org.apache.spark.sql.graftbridge.ColumnBridge.column(substituted)
      case "datetime" => c0.cast("timestamp")
      case "timezone" =>
        // UTC storage -> caller timezone at the presentation edge
        // (utils_columns.py:1655-1712)
        from_utc_timestamp(c0, tz.getOrElse("UTC"))
      case other =>
        throw new IllegalArgumentException(s"unsupported cast ::$other")
    }
  }

  /** Extract a bounded time range for `tsCol` from a WHERE text
    * (`ts >= 'lo'` / `ts < 'hi'` style literals, after date-function
    * folding) — feeds increments() auto-sizing. */
  def timeBounds(where: String, tsCol: String)
      : Option[(java.time.LocalDateTime, java.time.LocalDateTime)] = {
    val rx = ("(?i)\\b" + java.util.regex.Pattern.quote(tsCol) +
      "\\s*(>=|<=|<|>)\\s*'([^']+)'").r
    var lo: Option[java.time.LocalDateTime] = None
    var hi: Option[java.time.LocalDateTime] = None
    def parse(s: String): java.time.LocalDateTime =
      if (s.matches("\\d{4}-\\d{2}-\\d{2}"))
        java.time.LocalDate.parse(s).atStartOfDay
      else java.time.LocalDateTime.parse(s.replace(' ', 'T'))
    rx.findAllMatchIn(where).foreach { m =>
      m.group(1) match {
        case ">=" | ">" => lo = Some(parse(m.group(2)))
        case "<=" | "<" => hi = Some(parse(m.group(2)))
      }
    }
    for (l <- lo; h <- hi) yield (l, h)
  }

  /** Pull `period(unit, n, anchor, tsCol [, and <filter>])` out of the
    * WHERE clause (the reference treats it as a WHERE-level function —
    * unify_results.py:695-770). Returns the period spec and the remaining
    * WHERE text (period may be AND-combined with other predicates). */
  def extractPeriod(where: String)
      : (Option[(String, Int, String, String, Option[String])], Option[String]) = {
    val low = where.toLowerCase
    val idx = low.indexOf("period(")
    val idx2 = if (idx < 0) low.indexOf("period (") else idx
    if (idx2 < 0) return (None, Some(where))
    val open = where.indexOf('(', idx2)
    var depth = 1; var i = open + 1
    while (depth > 0 && i < where.length) {
      where.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case _ =>
      }
      i += 1
    }
    val inner = where.substring(open + 1, i - 1)
    val args = splitTopLevel(inner, ',').map(_.trim)
    require(args.length >= 4, s"period($inner)")
    val unit = args(0)
    val n = args(1).toInt
    val anchor = DateLiterals.evalToLiteral(args(2))
    val tsCol = args(3)
    val extra = if (args.length >= 5)
      Some(args(4).trim.stripPrefix("and ").trim) else None
    // remaining predicates around the period(...) call
    val before = where.substring(0, idx2).trim
      .stripSuffix("and").stripSuffix("AND").trim
    val after = where.substring(i).trim
      .stripPrefix("and").stripPrefix("AND").trim
    val rest = Seq(before, after).filter(_.nonEmpty)
      .reduceOption((a, b) => s"($a) and ($b)")
    (Some((unit, n, anchor, tsCol, extra)), rest)
  }
}
