package graft.plans

import graft.lake.LakeTable
import graft.lake.LakeTable.SqlMergeClause
import org.apache.spark.sql.{Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{IntegerType, LongType}

/** SQL `MERGE INTO` surface for graft lake tables (SURVEY §7.3 stretch):
  *
  * {{{
  *   MERGE INTO graft_lake.`/path/to/table` AS t
  *   USING changes AS s
  *   ON t.repo = s.repo AND t.path = s.path
  *   WHEN MATCHED AND s.seq > t.seq AND s.op = 'D' THEN DELETE
  *   WHEN MATCHED AND s.seq > t.seq THEN UPDATE SET *
  *   WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT *
  * }}}
  *
  * Registered via `spark.sql.extensions=graft.plans.GraftExtensions`. The
  * resolution rule intercepts Catalyst's parsed [[MergeIntoTable]] when the
  * target is the `graft_lake.` namespace, validates the ON clause is a
  * key-equality conjunction (what makes bucket-pruned COW rewrite sound),
  * serializes the WHEN clauses to engine-independent SQL fragments, and
  * swaps in a [[GraftMergeCommand]] — which the stock planner executes as a
  * [[LeafRunnableCommand]], delegating to [[LakeTable.mergeSql]]'s
  * full-outer-join apply. No DSv2 catalog indirection: the statement plans
  * straight onto the same COW write path as the Dataset merge.
  */
object GraftSqlMergeRule extends Rule[LogicalPlan] {

  private val KeyCols = Seq("repo", "path")
  // the lake table schema is fixed, so unqualified references can be
  // validated by name at parse time (see the BY SOURCE check below)
  private val TableCols = Set("repo", "path", "commit", "language",
    "content", "size_bytes", "seq")

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    case m: MergeIntoTable =>
      graftTarget(m.targetTable) match {
        case Some((root, tAlias)) => convert(m, root, tAlias)
        case None => m
      }
  }

  private def graftTarget(p: LogicalPlan): Option[(String, String)] = p match {
    case s @ SubqueryAlias(_, u: UnresolvedRelation)
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft_lake") =>
      Some((u.multipartIdentifier(1), s.alias))
    case u: UnresolvedRelation
        if u.multipartIdentifier.length == 2 &&
          u.multipartIdentifier.head.equalsIgnoreCase("graft_lake") =>
      fail("alias the MERGE target: MERGE INTO graft_lake.`<path>` AS t")
    case _ => None
  }

  private def convert(m: MergeIntoTable, root: String, tAlias: String): LogicalPlan = {
    val sAlias = m.sourceTable match {
      case s: SubqueryAlias => s.alias
      case _ => fail("alias the MERGE source: USING <query> AS s")
    }

    // ON must be a conjunction of equalities covering exactly the key
    // columns — that is what makes bucket pruning (and the equi-join
    // shuffle shape at scale) sound. Record the source-side expression
    // each key is equated to.
    val srcKey = scala.collection.mutable.Map[String, String]()
    GraftTvf.splitConjuncts(m.mergeCondition).foreach {
      case EqualTo(l, r) =>
        (keyOf(l, tAlias), keyOf(r, tAlias)) match {
          case (Some(k), None) => srcKey(k) = r.sql
          case (None, Some(k)) => srcKey(k) = l.sql
          case _ => fail(s"ON must equate target key columns (${KeyCols.mkString(", ")}) " +
            s"to source expressions; got: ${l.sql} = ${r.sql}")
        }
      case other => fail(s"ON must be a conjunction of equalities; got: ${other.sql}")
    }
    KeyCols.filterNot(srcKey.contains) match {
      case Nil => ()
      case missing => fail(s"ON must cover key column(s): ${missing.mkString(", ")}")
    }

    val matched = m.matchedActions.map(clause(_, sAlias))
    val notMatched = m.notMatchedActions.map(clause(_, sAlias))
    // NOT MATCHED BY SOURCE: acts on target rows absent from the source —
    // update/delete only (no source row to insert), and conditions/assigns
    // may reference only the target side (source columns are all null on
    // those join rows, which would silently null whatever touches them).
    val notBySource = m.notMatchedBySourceActions.map(clause(_, sAlias))
    notBySource.zip(m.notMatchedBySourceActions).foreach { case (c, raw) =>
      if (c.kind == "insert" || c.star)
        fail("WHEN NOT MATCHED BY SOURCE supports UPDATE SET <col>=<expr> and DELETE only")
      // source-alias check on the EXPRESSION TREE, not the serialized SQL:
      // a textual scan would false-positive on a string literal that merely
      // contains "<alias>." (e.g. ... AND t.path LIKE 's.%')
      val exprs: Seq[Expression] = raw match {
        case DeleteAction(cond) => cond.toSeq
        case UpdateAction(cond, assigns, _) => cond.toSeq ++ assigns.map(_.value)
        case _ => Nil // insert/star already rejected above
      }
      exprs.find(refsAlias(_, sAlias)).foreach(e => fail(
        s"WHEN NOT MATCHED BY SOURCE may only reference the target: ${e.sql} uses $sAlias"))
      // an UNQUALIFIED name that is not a target column would resolve
      // against the joined plan's source side — which is all-NULL on
      // not-by-source rows, silently nulling the condition (a DELETE that
      // never fires). The target schema is fixed, so reject by name.
      exprs.flatMap(_.collect {
        case a: UnresolvedAttribute if a.nameParts.length == 1 &&
            !TableCols.contains(a.nameParts.head.toLowerCase) => a.name
      }).headOption.foreach(n => fail(
        s"WHEN NOT MATCHED BY SOURCE may only reference the target: '$n' " +
          s"is not a column of the target table (${TableCols.mkString(", ")})"))
      c.assigns.find(a => KeyCols.contains(a._1)).foreach { case (k, _) =>
        fail(s"WHEN NOT MATCHED BY SOURCE must not reassign key column '$k'")
      }
    }
    // Key-column safety: every output row must stay in a bucket the merge
    // touched (one-manifest-per-bucket + rebase conflict detection rely on
    // it), so key assignments may only be the ON-clause source expression.
    def canon(sql: String): String = sql.replace("`", "").toLowerCase
    val sKeyCol = KeyCols.map(k => k -> s"$sAlias.$k").toMap
    def checkKeys(c: SqlMergeClause, isInsert: Boolean): Unit =
      if (c.star) KeyCols.foreach { k =>
        if (canon(srcKey(k)) != canon(sKeyCol(k)))
          fail(s"SET */INSERT * would reassign key '$k' to ${sKeyCol(k)} while ON " +
            s"matches it against ${srcKey(k)} — rows would move across buckets")
      } else KeyCols.foreach { k =>
        c.assigns.find(_._1 == k) match {
          case Some((_, sql)) if canon(sql) != canon(srcKey(k)) =>
            fail(s"assignment to key column '$k' must be the ON expression " +
              s"${srcKey(k)}; got $sql")
          case None if isInsert => fail(s"INSERT must assign key column '$k'")
          case _ => ()
        }
      }
    matched.filter(_.kind == "update").foreach(checkKeys(_, isInsert = false))
    notMatched.foreach(checkKeys(_, isInsert = true))

    GraftMergeCommand(root, tAlias, sAlias, m.mergeCondition.sql, srcKey.toMap,
      matched, notMatched, notBySource, m.sourceTable)
  }

  /** Does the (unresolved) expression tree reference `alias` as a column
    * qualifier? The rule runs at resolution, so column references are
    * [[UnresolvedAttribute]]s carrying their qualifier name parts — string
    * literals can never false-positive here.
    */
  private def refsAlias(e: Expression, alias: String): Boolean =
    e.exists {
      case a: UnresolvedAttribute =>
        a.nameParts.length >= 2 && a.nameParts.head.equalsIgnoreCase(alias)
      case _ => false
    }

  private def keyOf(e: Expression, tAlias: String): Option[String] = e match {
    case a: UnresolvedAttribute if a.nameParts.length == 2 &&
        a.nameParts.head.equalsIgnoreCase(tAlias) &&
        KeyCols.contains(a.nameParts(1).toLowerCase) =>
      Some(a.nameParts(1).toLowerCase)
    case _ => None
  }

  private def clause(a: MergeAction, sAlias: String): SqlMergeClause = a match {
    case DeleteAction(cond) =>
      SqlMergeClause("delete", cond.map(_.sql), Nil)
    case UpdateAction(cond, assigns, _) =>
      SqlMergeClause("update", cond.map(_.sql), toAssigns(assigns))
    case UpdateStarAction(cond) =>
      SqlMergeClause("update", cond.map(_.sql), Nil, star = true, starAlias = sAlias)
    case InsertAction(cond, assigns) =>
      SqlMergeClause("insert", cond.map(_.sql), toAssigns(assigns))
    case InsertStarAction(cond) =>
      SqlMergeClause("insert", cond.map(_.sql), Nil, star = true, starAlias = sAlias)
    case other => fail(s"unsupported MERGE action: $other")
  }

  private def toAssigns(as: Seq[Assignment]): Seq[(String, String)] = as.map { a =>
    a.key match {
      case u: UnresolvedAttribute => u.nameParts.last.toLowerCase -> a.value.sql
      case other => fail(s"assignment target must be a column: ${other.sql}")
    }
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft MERGE INTO: $msg")
}

/** The executable command the rule swaps in. A leaf for the analyzer (the
  * WHEN-clause expressions travel as SQL fragments, resolved at execution
  * against the aliased join); the source subquery is analyzed and run by
  * [[LakeTable.mergeSql]] when the command executes.
  */
final case class GraftMergeCommand(
    root: String, tAlias: String, sAlias: String, onSql: String,
    srcKeySql: Map[String, String],
    matched: Seq[SqlMergeClause], notMatched: Seq[SqlMergeClause],
    notBySource: Seq[SqlMergeClause],
    source: LogicalPlan) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("src_rows", LongType, nullable = false)(),
    AttributeReference("touched_buckets", IntegerType, nullable = false)(),
    AttributeReference("rows_after", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val src = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(cs, source)
    val stats = LakeTable.open(root)
      .mergeSql(cs, src, tAlias, sAlias, onSql, srcKeySql, matched, notMatched,
        notBySource)
    Seq(Row(stats.version, stats.srcRows, stats.touchedBuckets, stats.rowsAfter))
  }
}

/** `INSERT INTO graft_lake.`…`` executor: aligns the query output to the
  * table schema with STANDARD positional semantics (what Spark/Delta/
  * Iceberg INSERT-by-query does) — an explicit column list maps the query
  * positionally to those columns; a bare INSERT maps positionally to the
  * full table schema and requires exactly that arity (names in the query
  * are NOT consulted, so a reordered SELECT behaves here exactly as it
  * would on the tables this surface emulates; by-name subset inserts
  * spell out a column list or use `INSERT INTO … BY NAME`, whose mapping
  * is the query's own column names). Then delegates to
  * [[LakeTable.insertStrict]] (append-only on the key; collisions fail
  * with the equivalent-MERGE guidance).
  */
final case class GraftInsertCommand(root: String, userCols: Seq[String],
                                    query: LogicalPlan,
                                    byName: Boolean = false) extends LeafRunnableCommand {

  override def output: Seq[Attribute] = Seq(
    AttributeReference("version", IntegerType, nullable = false)(),
    AttributeReference("src_rows", LongType, nullable = false)(),
    AttributeReference("touched_buckets", IntegerType, nullable = false)(),
    AttributeReference("rows_after", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val cs = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val table = LakeTable.open(root)
    val dataCols = table.schema.fieldNames.filterNot(_ == "deleted").toSeq
    var src = org.apache.spark.sql.graftbridge.ColumnBridge.ofRows(cs, query)
    if (byName) {
      // INSERT INTO … BY NAME: the query's OWN column names choose target
      // columns (standard Spark 3.5+/Delta semantics) — insertStrict maps
      // by name, rejects unknown columns, and fills unnamed ones; only
      // ambiguous duplicate names must die here
      val dup = src.columns.groupBy(_.toLowerCase).collectFirst {
        case (n, cs) if cs.length > 1 => n }
      require(dup.isEmpty,
        s"INSERT BY NAME query names column '${dup.getOrElse("")}' more than once")
      require(userCols.isEmpty,
        "INSERT BY NAME does not take a column list — the query's column names are the mapping")
    } else if (userCols.nonEmpty) {
      require(userCols.length == src.columns.length,
        s"INSERT column list has ${userCols.length} columns but the query " +
          s"produces ${src.columns.length}")
      src = src.toDF(userCols: _*)
    } else {
      // bare INSERT: positional against the full schema, standard
      // engine semantics — never by-name, whatever the query's column
      // names happen to be
      require(src.columns.length == dataCols.length,
        s"INSERT INTO without a column list maps the query POSITIONALLY to " +
          s"the full table schema and needs exactly ${dataCols.length} " +
          s"columns (table columns: ${dataCols.mkString(", ")}); the query " +
          s"produces ${src.columns.length}. To insert a column subset by " +
          s"name, spell out the column list: INSERT INTO … " +
          s"(${dataCols.take(2).mkString(", ")}, …) SELECT …")
      src = src.toDF(dataCols: _*)
    }
    val stats = table.insertStrict(cs, src)
    Seq(Row(stats.version, stats.srcRows, stats.touchedBuckets, stats.rowsAfter))
  }
}

/** SQL READ surface for graft lake tables — completes the `graft_lake.`
  * namespace (MERGE writes above, SELECT reads here):
  *
  * {{{
  *   SELECT * FROM graft_lake.`/path/to/table` [AS t]
  *   SELECT * FROM graft_lake.`/path/to/table` VERSION AS OF 3   -- time travel
  *   SELECT * FROM graft_lake.`tbl` WHERE repo='r' AND path='p'  -- bucket-pruned
  * }}}
  *
  * The relation is replaced by the ANALYZED plan of the corresponding
  * [[LakeTable]] read (live rows: tombstones filtered, MOR LWW-resolved) —
  * a view-expansion, so Catalyst optimizes straight through it (filter and
  * column pushdown reach the underlying parquet scan). A `WHERE` that pins
  * both key columns to string literals swaps in [[LakeTable.lookup]]'s plan
  * instead: the scan enumerates ONLY the key's bucket files — O(files/
  * buckets) IO on a huge table. The original Filter stays on top (the
  * pruned plan's rows are a superset-filtered-to-equal set, so extra
  * conjuncts still apply; semantics never depend on the extraction).
  *
  * Runs AFTER [[GraftSqlMergeRule]] in the same resolution batch, so a
  * MERGE target is already folded into [[GraftMergeCommand]] (a leaf) by
  * the time this rule sees the plan; a graft relation in the MERGE
  * *source* resolves when the command analyzes it at execution — SELECT
  * and MERGE compose (`MERGE … USING (SELECT … FROM graft_lake.`a`) s`).
  */
final class GraftSqlReadRule(session: SparkSession) extends Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.analysis.RelationTimeTravel
  import org.apache.spark.sql.graftbridge.ColumnBridge
  import org.apache.spark.sql.types.StringType
  import org.apache.spark.unsafe.types.UTF8String

  private val KeyCols = Set("repo", "path")

  private def rootOf(p: LogicalPlan): Option[String] = p match {
    case u: UnresolvedRelation if u.multipartIdentifier.length == 2 &&
        u.multipartIdentifier.head.equalsIgnoreCase("graft_lake") =>
      Some(u.multipartIdentifier(1))
    case _ => None
  }

  /** (root, alias, rewrap) when `p` is a graft relation, possibly aliased. */
  private def relation(p: LogicalPlan): Option[(String, Option[String], LogicalPlan => LogicalPlan)] = p match {
    case s @ SubqueryAlias(_, child) =>
      rootOf(child).map(r => (r, Some(s.alias), (x: LogicalPlan) => s.copy(child = x)))
    case other => rootOf(other).map(r => (r, None, identity[LogicalPlan] _))
  }

  private def readPlan(root: String): LogicalPlan =
    ColumnBridge.analyzed(LakeTable.open(root).read(session))

  /** key → literal from `repo = 'x'`-shaped conjuncts (either side). The
    * attribute must be unqualified or qualified by THIS relation's alias:
    * a correlated conjunct like `o.repo = 'r1'` constrains the OUTER table
    * and must not trigger pruning of this one.
    */
  private def keyLiterals(cond: Expression, alias: Option[String]): Map[String, String] = {
    def lit(e: Expression): Option[String] = e match {
      case Literal(v: UTF8String, StringType) => Some(v.toString)
      case _ => None
    }
    def key(e: Expression): Option[String] = e match {
      case a: UnresolvedAttribute if KeyCols.contains(a.nameParts.last.toLowerCase) &&
          (a.nameParts.length == 1 ||
            (a.nameParts.length == 2 && alias.exists(_.equalsIgnoreCase(a.nameParts.head)))) =>
        Some(a.nameParts.last.toLowerCase)
      case _ => None
    }
    GraftTvf.splitConjuncts(cond).flatMap {
      case EqualTo(l, r) =>
        key(l).zip(lit(r)).orElse(key(r).zip(lit(l)))
      case _ => None
    }.toMap
  }

  /** Prefix from a `path LIKE 'lit%'` conjunct (single trailing %, no
    * other wildcards, default escape) — the directory-listing shape.
    * Same alias discipline as [[keyLiterals]].
    */
  private def pathPrefix(cond: Expression, alias: Option[String]): Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.Like
    def isPath(e: Expression): Boolean = e match {
      case a: UnresolvedAttribute if a.nameParts.last.equalsIgnoreCase("path") &&
          (a.nameParts.length == 1 ||
            (a.nameParts.length == 2 && alias.exists(_.equalsIgnoreCase(a.nameParts.head)))) => true
      case _ => false
    }
    GraftTvf.splitConjuncts(cond).collectFirst {
      case Like(l, Literal(pat: UTF8String, StringType), '\\') if isPath(l) &&
          pat.toString.endsWith("%") &&
          !pat.toString.dropRight(1).exists(c => c == '%' || c == '_' || c == '\\') =>
        pat.toString.dropRight(1)
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsDown {
    // INSERT INTO → strict append (error on key collision, echoing the
    // MERGE to run for upsert intent) — the append-shaped statement a user
    // coming from Delta/Iceberg tries first
    case i: InsertIntoStatement if relation(i.table).isDefined =>
      if (i.overwrite) throw new UnsupportedOperationException(
        "graft INSERT OVERWRITE is not supported — full replacement is " +
          "MERGE INTO … WHEN NOT MATCHED BY SOURCE THEN DELETE (full sync)")
      // silently dropping a PARTITION (col=val) spec would insert NULLs
      // where the user named values — reject with the column-list form
      if (i.partitionSpec.nonEmpty) throw new UnsupportedOperationException(
        "graft lake tables are key-bucketed, not partitioned — name " +
          s"${i.partitionSpec.keys.mkString(", ")} in the INSERT column " +
          "list instead of a PARTITION clause")
      GraftInsertCommand(relation(i.table).get._1, i.userSpecifiedCols, i.query,
        byName = i.byName)

    // time travel: SELECT … FROM graft_lake.`x` VERSION AS OF <n>
    case tt: RelationTimeTravel if relation(tt.relation).isDefined =>
      val (root, _, rewrap) = relation(tt.relation).get
      tt.version match {
        // toIntOption also rejects ""/overflow (forall on "" is true)
        case Some(v) if v.nonEmpty && v.forall(_.isDigit) && v.toIntOption.isDefined =>
          rewrap(ColumnBridge.analyzed(LakeTable.open(root).readAt(session, v.toInt)))
        case Some(v) =>
          throw new UnsupportedOperationException(
            s"graft VERSION AS OF takes an integer snapshot version, got '$v'")
        case None =>
          // TIMESTAMP AS OF <expr>: resolve to the newest snapshot whose
          // recorded commit wall-clock is <= the timestamp, then read that
          // pinned version (identical plan to VERSION AS OF).
          val tsExpr = tt.timestamp.getOrElse(
            throw new UnsupportedOperationException(
              "graft time travel needs VERSION AS OF <int> or TIMESTAMP AS OF <ts>"))
          if (!tsExpr.resolved || !tsExpr.foldable)
            throw new UnsupportedOperationException(
              s"graft TIMESTAMP AS OF must be a literal/foldable timestamp, got ${tsExpr.sql}")
          val micros = Cast(tsExpr, org.apache.spark.sql.types.TimestampType,
            Some(session.sessionState.conf.sessionLocalTimeZone)).eval() match {
            case l: java.lang.Long => l.longValue()
            case other => throw new UnsupportedOperationException(
              s"graft TIMESTAMP AS OF: cannot interpret ${tsExpr.sql} as a timestamp ($other)")
          }
          val table = LakeTable.open(root)
          val v = table.versionAt(micros / 1000L)
          rewrap(ColumnBridge.analyzed(table.readAt(session, v)))
      }

    // point read: both keys pinned → bucket-pruned file set; repo alone
    // pinned → manifest-bounds file skipping (a repo spreads over ALL
    // buckets, so this is the only pruning that can serve it)
    case f @ Filter(cond, child) if relation(child).isDefined => {
      val (root, alias, rewrap) = relation(child).get
      val keys = keyLiterals(cond, alias)
      val inner =
        if (KeyCols.forall(keys.contains))
          ColumnBridge.analyzed(LakeTable.open(root).lookup(session, keys("repo"), keys("path")))
        else if (keys.contains("repo"))
          pathPrefix(cond, alias) match {
            // directory listing: repo = 'x' AND path LIKE 'dir/%'
            case Some(pre) => ColumnBridge.analyzed(
              LakeTable.open(root).readWherePathPrefix(session, keys("repo"), pre))
            case None => ColumnBridge.analyzed(
              LakeTable.open(root).readWhereRepo(session, keys("repo")))
          }
        else readPlan(root)
      f.copy(child = rewrap(inner))
    }

    case p if relation(p).isDefined => {
      val (root, _, rewrap) = relation(p).get
      rewrap(readPlan(root))
    }
  }
}

/** Shared plumbing for ALL graft table-valued functions — the ONE place
  * TVF builders resolve their session and coerce literal arguments.
  *
  * Session resolution: `injectTableFunction` builders receive only the
  * argument expressions (unlike `injectResolutionRule`, which threads the
  * session), so TVFs resolve on [[org.apache.spark.sql.SparkSession.active]]
  * — correct by definition: a TVF executes on the session running the
  * statement, and analysis happens on that session's thread. Every graft
  * TVF goes through [[session]]; none call `SparkSession.active` inline.
  */
private[plans] object GraftTvf {
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType}
  import org.apache.spark.unsafe.types.UTF8String

  def session: org.apache.spark.sql.classic.SparkSession =
    org.apache.spark.sql.classic.SparkSession.active

  def strLit(e: Expression): Option[String] = e match {
    case Literal(v: UTF8String, StringType) => Some(v.toString)
    case _ => None
  }

  /** Top-level AND-conjuncts of a condition — the ONE splitter shared by
    * MERGE ON validation and the read rule's pruning extractors, so they
    * can never disagree about what counts as a conjunct.
    */
  def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case x => Seq(x)
  }

  def intLit(e: Expression): Option[Int] = e match {
    case Literal(v: Int, IntegerType) => Some(v)
    // out-of-range longs must NOT wrap into a (different, valid-looking)
    // version number — fall through to the TVF's usage error instead
    case Literal(v: Long, LongType) if v.isValidInt => Some(v.toInt)
    case _ => None
  }

  def longLit(e: Expression): Option[Long] = e match {
    case Literal(v: Int, IntegerType) => Some(v.toLong)
    case Literal(v: Long, LongType) => Some(v)
    case _ => None
  }

  /** TVF source dispatch: a graft lake table root (detected by meta/HEAD —
    * live rows, LWW-resolved) or any parquet path. Lets the text-shaping
    * TVFs run over raw corpus files AND lake tables with one argument
    * shape.
    */
  def sourceOf(s: org.apache.spark.sql.classic.SparkSession, path: String): org.apache.spark.sql.DataFrame =
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(path, "meta", "HEAD")))
      LakeTable.open(path).read(s)
    else s.read.parquet(path)

  def analyzed(df: org.apache.spark.sql.DataFrame): LogicalPlan =
    org.apache.spark.sql.graftbridge.ColumnBridge.analyzed(df)
}

/** `graft_changes('<root>', from, to)` — the change-data-feed as a SQL
  * table-valued function (completes the CDF surface: Dataset
  * `changesBetween`, CLI `changes`, streaming `graft-cdf`, and SQL).
  * Registered in the session's TABLE function registry, the same mechanism
  * `range()` uses — the analyzer resolves it like any built-in TVF.
  * Arguments must be literals: the feed window pins physical snapshots,
  * which is a plan-time decision by design.
  */
object GraftChangesTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val ident: FunctionIdentifier = FunctionIdentifier("graft_changes")

  val info = new ExpressionInfo(
    GraftChangesTvf.getClass.getCanonicalName, null, "graft_changes",
    "graft_changes(root, fromVersion, toVersion[, updatePreimages]) - " +
      "change-data-feed rows (op I/U/D + key + payload) of the graft lake " +
      "table at `root` between two snapshot versions; updatePreimages=true " +
      "replaces each U with the U-/U+ retraction pair", "", "", "", "", "",
    "", "built-in")

  def build(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(root, f, t, rest @ _*)
        if rest.length <= 1 && GraftTvf.strLit(root).isDefined =>
      val pre = rest.headOption.map {
        case Literal(b: Boolean, org.apache.spark.sql.types.BooleanType) => b
        case _ => fail("updatePreimages must be a boolean literal")
      }.getOrElse(false)
      (GraftTvf.intLit(f), GraftTvf.intLit(t)) match {
        case (Some(from), Some(to)) =>
          GraftTvf.analyzed(LakeTable.open(GraftTvf.strLit(root).get)
            .changesBetween(GraftTvf.session, from, to, updatePreimages = pre))
        case _ => fail("fromVersion/toVersion must be integer literals")
      }
    case _ => fail(
      "usage: graft_changes('<table root>', <fromVersion>, <toVersion>[, <updatePreimages>])")
  }

  private def fail(msg: String): Nothing =
    throw new UnsupportedOperationException(s"graft_changes: $msg")
}

/** Text-shaping TVFs — [[graft.ops.ChunkOps]] from plain SQL, over a
  * parquet path or a graft lake table root ([[GraftTvf.sourceOf]]):
  *
  *  - `graft_chunks(src, idCol, textCol, maxTokens[, overlap])` —
  *    token-window chunking; output (id, chunk_id, chunk, n_tokens).
  *  - `graft_pack(src, idCol, textCol, groupCol, targetTokens)` —
  *    sequence packing by cumulative token offset; output (group, id,
  *    n_tokens, tok_offset, pack_id).
  *
  * Arguments must be literals (the source path pins a physical dataset at
  * plan time, like `graft_changes`); option validation is EXACTLY the
  * Scala API's — the builders delegate straight to ChunkOps, so the same
  * `require` guards fire with the same messages. Both compose with
  * `INSERT INTO graft_lake.` and CTAS like any relation.
  */
object GraftChunkTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val chunksIdent: FunctionIdentifier = FunctionIdentifier("graft_chunks")
  val chunksInfo = new ExpressionInfo(GraftChunkTvf.getClass.getCanonicalName,
    null, "graft_chunks", "graft_chunks(src, idCol, textCol, maxTokens[, overlap])" +
      " - split each document into windows of maxTokens whitespace tokens " +
      "(consecutive windows sharing `overlap`); src is a parquet path or " +
      "graft lake table root", "", "", "", "", "", "", "built-in")
  val packIdent: FunctionIdentifier = FunctionIdentifier("graft_pack")
  val packInfo = new ExpressionInfo(GraftChunkTvf.getClass.getCanonicalName,
    null, "graft_pack", "graft_pack(src, idCol, textCol, groupCol, targetTokens)" +
      " - assign documents to ~targetTokens training packs by cumulative " +
      "token offset within groupCol; src is a parquet path or graft lake " +
      "table root", "", "", "", "", "", "", "built-in")

  def buildChunks(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(src, id, text, maxT) => buildChunks(Seq(src, id, text, maxT, Literal(0)))
    case Seq(src, id, text, maxT, over) =>
      (GraftTvf.strLit(src), GraftTvf.strLit(id), GraftTvf.strLit(text),
        GraftTvf.intLit(maxT), GraftTvf.intLit(over)) match {
        case (Some(p), Some(idCol), Some(textCol), Some(m), Some(o)) =>
          val s = GraftTvf.session
          GraftTvf.analyzed(graft.ops.ChunkOps.chunkByTokens(
            GraftTvf.sourceOf(s, p), idCol, textCol, m, o))
        case _ => fail("graft_chunks", "src/idCol/textCol must be string " +
          "literals and maxTokens/overlap integer literals")
      }
    case _ => fail("graft_chunks",
      "usage: graft_chunks('<src>', '<idCol>', '<textCol>', <maxTokens>[, <overlap>])")
  }

  def buildPack(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(src, id, text, group, target) =>
      (GraftTvf.strLit(src), GraftTvf.strLit(id), GraftTvf.strLit(text),
        GraftTvf.strLit(group), GraftTvf.longLit(target)) match {
        case (Some(p), Some(idCol), Some(textCol), Some(groupCol), Some(tgt)) =>
          val s = GraftTvf.session
          GraftTvf.analyzed(graft.ops.ChunkOps.packByTokens(
            GraftTvf.sourceOf(s, p), idCol, textCol, groupCol, tgt))
        case _ => fail("graft_pack", "src/idCol/textCol/groupCol must be " +
          "string literals and targetTokens an integer literal")
      }
    case _ => fail("graft_pack",
      "usage: graft_pack('<src>', '<idCol>', '<textCol>', '<groupCol>', <targetTokens>)")
  }

  private def fail(fn: String, msg: String): Nothing =
    throw new UnsupportedOperationException(s"$fn: $msg")
}

/** Metadata table functions (Iceberg's `history` / `files` metadata-table
  * analogs, reachable from plain SQL):
  *
  *  - `graft_history('<root>')` — one row per RETAINED snapshot: version,
  *    parent, committed_at, operation, mode, last_batch_id, total_rows,
  *    total_files. Reads only snapshot JSONs — never data files.
  *  - `graft_files('<root>')` — one row per data file of HEAD: bucket,
  *    file path, row count, bytes, sorted flag, and the min/max key
  *    bounds that drive file skipping. Reads manifests only.
  *
  * Both are driver-side metadata enumerations materialized as local
  * relations — the row counts are O(snapshots) and O(files), metadata
  * scale by construction.
  */
object GraftMetaTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val historyIdent: FunctionIdentifier = FunctionIdentifier("graft_history")
  val historyInfo = new ExpressionInfo(GraftMetaTvf.getClass.getCanonicalName,
    null, "graft_history", "graft_history(root) - retained snapshots of the " +
      "graft lake table at `root` (version, committed_at, operation, ...)",
    "", "", "", "", "", "", "built-in")
  val filesIdent: FunctionIdentifier = FunctionIdentifier("graft_files")
  val filesInfo = new ExpressionInfo(GraftMetaTvf.getClass.getCanonicalName,
    null, "graft_files", "graft_files(root) - data files of the table HEAD " +
      "(bucket, path, rows, bytes, sorted, key bounds)",
    "", "", "", "", "", "", "built-in")

  private def rootArg(args: Seq[Expression], fn: String): String =
    args.flatMap(GraftTvf.strLit) match {
      case Seq(root) if args.length == 1 => root
      case _ => throw new UnsupportedOperationException(
        s"$fn: usage $fn('<table root>')")
    }

  def buildHistory(args: Seq[Expression]): LogicalPlan = {
    val table = LakeTable.open(rootArg(args, "graft_history"))
    val session = GraftTvf.session
    import session.implicits._
    val rows = table.versions().map { v =>
      val s = table.snapshotAt(v)
      val op =
        if (s.summary.contains("compaction")) "compact"
        else if (s.summary.contains("rebucket")) "rebucket"
        else if (s.summary.contains("truncate")) "truncate"
        else if (s.summary.contains("sqlMerge")) "sql-merge"
        else if (s.summary.contains("sqlInsert")) "sql-insert"
        else if (s.summary.contains("batchId")) "merge"
        else "create"
      (s.version, s.parent, new java.sql.Timestamp(s.committedAtMs), op,
        s.mode, s.lastBatchId, s.totalRows, s.totalFiles)
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.analyzed(
      rows.toDF("version", "parent", "committed_at", "operation", "mode",
        "last_batch_id", "total_rows", "total_files"))
  }

  def buildFiles(args: Seq[Expression]): LogicalPlan = {
    val table = LakeTable.open(rootArg(args, "graft_files"))
    val session = GraftTvf.session
    import session.implicits._
    val h = table.head()
    val rows = table.filesOf(h).map { f =>
      (f.bucket, f.path, f.rowCount, f.sizeBytes, f.sorted,
        f.minRepo.orNull, f.maxRepo.orNull, f.minPath.orNull, f.maxPath.orNull)
    }
    org.apache.spark.sql.graftbridge.ColumnBridge.analyzed(
      rows.toDF("bucket", "file", "row_count", "size_bytes", "sorted",
        "min_repo", "max_repo", "min_path", "max_path"))
  }

  val lineageIdent: FunctionIdentifier = FunctionIdentifier("graft_lineage")
  val lineageInfo = new ExpressionInfo(GraftMetaTvf.getClass.getCanonicalName,
    null, "graft_lineage", "graft_lineage(dir) - per-(batch, partition) " +
      "lineage rows of a tailer/replication lineage directory, deduped to " +
      "exactly one delivery attempt per batch (the canonical at-least-once " +
      "read — raw parquet can carry re-delivered batches)",
    "", "", "", "", "", "", "built-in")

  /** [[graft.stream.Tailer.readLineage]] as a TVF — the lineage dir is
    * appended at-least-once (crash between merge commit and lineage write
    * re-delivers a batch), so reading the raw parquet double-counts; this
    * is the SQL spelling of the one correct read.
    */
  def buildLineage(args: Seq[Expression]): LogicalPlan = {
    val dir = rootArg(args, "graft_lineage")
    GraftTvf.analyzed(graft.stream.Tailer.readLineage(GraftTvf.session, dir))
  }

  val mvIdent: FunctionIdentifier = FunctionIdentifier("graft_mv")
  val mvInfo = new ExpressionInfo(GraftMetaTvf.getClass.getCanonicalName,
    null, "graft_mv", "graft_mv(viewDir) - the incrementally-maintained " +
      "materialized aggregate at `viewDir` as of its last applied batch " +
      "((group, cnt, bytes) rows; see Mv.maintainInto / ReplayCli mv)",
    "", "", "", "", "", "", "built-in")

  /** [[graft.stream.Mv.read]] as a TVF — reads the PINNED version behind
    * the view's pointer, never a half-written one.
    */
  def buildMv(args: Seq[Expression]): LogicalPlan = {
    val dir = rootArg(args, "graft_mv")
    GraftTvf.analyzed(graft.stream.Mv.read(GraftTvf.session, dir))
  }
}

/** Table-maintenance procedures as TVFs (Iceberg's
  * `CALL system.rewrite_data_files` / `expire_snapshots` /
  * `remove_orphan_files` analogs, reachable from plain SQL):
  *
  *  - `graft_compact('<root>')` — full rewrite: fold every bucket to its
  *    LWW-resolved latest row per key, one sorted file per bucket.
  *  - `graft_compact('<root>', maxFilesPerBucket)` — incremental: rewrite
  *    ONLY buckets whose manifests list more files than the bound (the MOR
  *    read-amplification trigger); untouched manifests carry by reference.
  *  - `graft_expire_snapshots('<root>', keepLast)` — drop snapshot JSONs
  *    older than the newest `keepLast`; one output row per expired version.
  *  - `graft_vacuum('<root>'[, olderThanMs])` — delete data/manifest files
  *    no surviving snapshot references and older than the grace window
  *    (default 10 min — never pass 0 with concurrent writers active).
  *
  * Like Iceberg's `CALL`, these execute EAGERLY — at analysis time, once
  * per statement — and return a summary relation. (Consequence: EXPLAIN
  * of a maintenance TVF also runs it. All three are idempotent, so a
  * re-run is a no-op, not corruption.) Each delegates to the corresponding
  * tested [[LakeTable]] API, so retry/backoff/CAS semantics are identical
  * to the Scala surface: a compaction that loses the commit race to live
  * ingest recomputes against the new head (ingest always wins).
  */
object GraftMaintTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val compactIdent: FunctionIdentifier = FunctionIdentifier("graft_compact")
  val compactInfo = new ExpressionInfo(GraftMaintTvf.getClass.getCanonicalName,
    null, "graft_compact", "graft_compact(root[, maxFilesPerBucket]) - " +
      "compact the graft lake table at `root` (full rewrite, or only " +
      "buckets over the file-count bound); returns the new head version " +
      "and rewrite stats", "", "", "", "", "", "", "built-in")
  val expireIdent: FunctionIdentifier = FunctionIdentifier("graft_expire_snapshots")
  val expireInfo = new ExpressionInfo(GraftMaintTvf.getClass.getCanonicalName,
    null, "graft_expire_snapshots", "graft_expire_snapshots(root, keepLast)" +
      " - drop retained snapshots older than the newest keepLast; one row " +
      "per expired version", "", "", "", "", "", "", "built-in")
  val vacuumIdent: FunctionIdentifier = FunctionIdentifier("graft_vacuum")
  val vacuumInfo = new ExpressionInfo(GraftMaintTvf.getClass.getCanonicalName,
    null, "graft_vacuum", "graft_vacuum(root[, olderThanMs]) - delete " +
      "unreferenced data/manifest files older than the grace window; " +
      "returns the deleted count", "", "", "", "", "", "", "built-in")

  def buildCompact(args: Seq[Expression]): LogicalPlan = {
    val session = GraftTvf.session
    import session.implicits._
    val (root, bound) = args match {
      case Seq(r) if GraftTvf.strLit(r).isDefined =>
        (GraftTvf.strLit(r).get, None)
      case Seq(r, b) if GraftTvf.strLit(r).isDefined &&
          GraftTvf.intLit(b).isDefined =>
        (GraftTvf.strLit(r).get, Some(GraftTvf.intLit(b).get))
      case _ => fail("graft_compact",
        "usage: graft_compact('<table root>'[, <maxFilesPerBucket>])")
    }
    val table = LakeTable.open(root)
    val compacted = bound match {
      case Some(maxFiles) => table.compactBuckets(session, maxFiles)
      case None => table.compact(session)
    }
    val after = table.head()
    val rows = Seq((after.version, compacted, after.totalRows, after.totalFiles))
    GraftTvf.analyzed(rows.toDF(
      "version", "compacted_buckets", "total_rows", "total_files"))
  }

  def buildExpire(args: Seq[Expression]): LogicalPlan = {
    val session = GraftTvf.session
    import session.implicits._
    args match {
      case Seq(r, k) if GraftTvf.strLit(r).isDefined &&
          GraftTvf.intLit(k).isDefined =>
        val expired = LakeTable.open(GraftTvf.strLit(r).get)
          .expireSnapshots(GraftTvf.intLit(k).get)
        GraftTvf.analyzed(expired.toDF("expired_version"))
      case _ => fail("graft_expire_snapshots",
        "usage: graft_expire_snapshots('<table root>', <keepLast>)")
    }
  }

  val mvRefreshIdent: FunctionIdentifier = FunctionIdentifier("graft_mv_refresh")
  val mvRefreshInfo = new ExpressionInfo(GraftMaintTvf.getClass.getCanonicalName,
    null, "graft_mv_refresh", "graft_mv_refresh(root, cursorFile, viewDir" +
      "[, groupCol]) - fold the table's changes since the view's pointer " +
      "into the incrementally-maintained (group, cnt, bytes) aggregate view " +
      "(cursorFile only tags the view's consumer); returns whether a " +
      "window was applied and the view's pointer", "", "", "", "", "", "",
    "built-in")

  /** [[graft.stream.Mv.maintainViaCursor]] as a TVF — the cron-style MV
    * refresh from plain SQL, completing the SQL story graft_mv (read)
    * started. Same eager-at-analysis semantics as the other maintenance
    * TVFs; idempotent (a caught-up view returns applied=false).
    */
  def buildMvRefresh(args: Seq[Expression]): LogicalPlan = {
    val session = GraftTvf.session
    import session.implicits._
    val lits = args.map(GraftTvf.strLit)
    val (root, cursor, viewDir, groupCol) = lits match {
      case Seq(Some(r), Some(c), Some(v)) => (r, c, v, "language")
      case Seq(Some(r), Some(c), Some(v), Some(g)) => (r, c, v, g)
      case _ => fail("graft_mv_refresh",
        "usage: graft_mv_refresh('<table root>', '<cursor file>', " +
          "'<view dir>'[, '<groupCol>'])")
    }
    val applied = graft.stream.Mv.maintainViaCursor(session, root,
      java.nio.file.Paths.get(cursor), viewDir, groupCol)
    val v = graft.stream.Mv.pointer(java.nio.file.Paths.get(viewDir)).getOrElse(-1L)
    GraftTvf.analyzed(Seq((applied, v)).toDF("applied", "view_batch"))
  }

  def buildVacuum(args: Seq[Expression]): LogicalPlan = {
    val session = GraftTvf.session
    import session.implicits._
    val (root, grace) = args match {
      case Seq(r) if GraftTvf.strLit(r).isDefined =>
        (GraftTvf.strLit(r).get, None)
      case Seq(r, g) if GraftTvf.strLit(r).isDefined &&
          GraftTvf.longLit(g).isDefined =>
        (GraftTvf.strLit(r).get, Some(GraftTvf.longLit(g).get))
      case _ => fail("graft_vacuum",
        "usage: graft_vacuum('<table root>'[, <olderThanMs>])")
    }
    val table = LakeTable.open(root)
    val deleted = grace match {
      case Some(ms) => table.vacuum(ms)
      case None => table.vacuum()
    }
    GraftTvf.analyzed(Seq(deleted).toDF("deleted_files"))
  }

  private def fail(fn: String, msg: String): Nothing =
    throw new UnsupportedOperationException(s"$fn: $msg")
}

/** Analysis TVFs — the round-5 corpus operators from plain SQL, over a
  * parquet path or a graft lake table root ([[GraftTvf.sourceOf]]):
  *
  *  - `graft_hh(src, itemCol, phi)` — EXACT heavy hitters
  *    ([[graft.ops.FreqOps.heavyHitters]]): every value with frequency
  *    > phi·n, with its exact count.
  *  - `graft_bm25(src, idCol, textCol, query)` — BM25 relevance score of
  *    every document against the bag-of-words `query`
  *    ([[graft.ops.RankOps.bm25]], Lucene-default k1/b).
  *  - `graft_asof(leftSrc, rightSrc, keys, tsCol, payload)` — as-of join
  *    ([[graft.ops.JoinOps.asofJoin]]); `keys`/`payload` are
  *    comma-separated column lists in one string literal.
  *  - `graft_range(pointsSrc, intervalsSrc, keys, vCol, loCol, hiCol,
  *    binWidth)` — interval join ([[graft.ops.JoinOps.rangeJoin]]).
  *
  * Arguments must be literals (plan-time source pinning, like the other
  * TVFs); validation is EXACTLY the Scala API's — the builders delegate
  * straight to the ops, so the same `require` guards fire with the same
  * messages.
  */
object GraftAnalyzeTvf {
  import org.apache.spark.sql.catalyst.FunctionIdentifier

  val hhIdent: FunctionIdentifier = FunctionIdentifier("graft_hh")
  val hhInfo = new ExpressionInfo(GraftAnalyzeTvf.getClass.getCanonicalName,
    null, "graft_hh", "graft_hh(src, itemCol, phi) - exact heavy hitters: " +
      "every itemCol value with frequency > phi*n and its exact count " +
      "(two-pass Misra-Gries); src is a parquet path or graft lake table root",
    "", "", "", "", "", "", "built-in")
  val bm25Ident: FunctionIdentifier = FunctionIdentifier("graft_bm25")
  val bm25Info = new ExpressionInfo(GraftAnalyzeTvf.getClass.getCanonicalName,
    null, "graft_bm25", "graft_bm25(src, idCol, textCol, query) - BM25 " +
      "relevance score of each document against the bag-of-words query",
    "", "", "", "", "", "", "built-in")
  val asofIdent: FunctionIdentifier = FunctionIdentifier("graft_asof")
  val asofInfo = new ExpressionInfo(GraftAnalyzeTvf.getClass.getCanonicalName,
    null, "graft_asof", "graft_asof(leftSrc, rightSrc, keys, tsCol, payload)" +
      " - for each left row, the latest right row with the same keys at or " +
      "before its timestamp; keys/payload are comma-separated column lists",
    "", "", "", "", "", "", "built-in")
  val rangeIdent: FunctionIdentifier = FunctionIdentifier("graft_range")
  val rangeInfo = new ExpressionInfo(GraftAnalyzeTvf.getClass.getCanonicalName,
    null, "graft_range", "graft_range(pointsSrc, intervalsSrc, keys, vCol, " +
      "loCol, hiCol, binWidth) - every (point, interval) pair with equal " +
      "keys and loCol <= vCol <= hiCol (binned equi-join, never a product)",
    "", "", "", "", "", "", "built-in")

  /** phi arrives as a SQL decimal literal (`0.05`), not a double. */
  private def doubleLit(e: Expression): Option[Double] = e match {
    case Literal(d: org.apache.spark.sql.types.Decimal, _) => Some(d.toDouble)
    case Literal(d: Double, org.apache.spark.sql.types.DoubleType) => Some(d)
    case _ => GraftTvf.longLit(e).map(_.toDouble)
  }

  private def cols(s: String): Seq[String] =
    s.split(",").map(_.trim).filter(_.nonEmpty).toSeq

  def buildHh(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(src, item, phi) =>
      (GraftTvf.strLit(src), GraftTvf.strLit(item), doubleLit(phi)) match {
        case (Some(p), Some(itemCol), Some(f)) =>
          GraftTvf.analyzed(graft.ops.FreqOps.heavyHitters(
            GraftTvf.sourceOf(GraftTvf.session, p), itemCol, f))
        case _ => fail("graft_hh",
          "src/itemCol must be string literals and phi a numeric literal")
      }
    case _ => fail("graft_hh", "usage: graft_hh('<src>', '<itemCol>', <phi>)")
  }

  def buildBm25(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(src, id, text, query) =>
      (GraftTvf.strLit(src), GraftTvf.strLit(id), GraftTvf.strLit(text),
        GraftTvf.strLit(query)) match {
        case (Some(p), Some(idCol), Some(textCol), Some(q)) =>
          GraftTvf.analyzed(graft.ops.RankOps.bm25(
            GraftTvf.sourceOf(GraftTvf.session, p), idCol, textCol, q))
        case _ => fail("graft_bm25", "all four arguments must be string literals")
      }
    case _ => fail("graft_bm25",
      "usage: graft_bm25('<src>', '<idCol>', '<textCol>', '<query words>')")
  }

  def buildAsof(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(l, r, keys, ts, payload) =>
      (GraftTvf.strLit(l), GraftTvf.strLit(r), GraftTvf.strLit(keys),
        GraftTvf.strLit(ts), GraftTvf.strLit(payload)) match {
        case (Some(lp), Some(rp), Some(ks), Some(tsCol), Some(ps)) =>
          val s = GraftTvf.session
          GraftTvf.analyzed(graft.ops.JoinOps.asofJoin(
            GraftTvf.sourceOf(s, lp), GraftTvf.sourceOf(s, rp),
            cols(ks), tsCol, cols(ps)))
        case _ => fail("graft_asof", "all five arguments must be string literals")
      }
    case _ => fail("graft_asof",
      "usage: graft_asof('<leftSrc>', '<rightSrc>', '<k1,k2,...>', '<tsCol>', '<p1,p2,...>')")
  }

  def buildRange(args: Seq[Expression]): LogicalPlan = args match {
    case Seq(pts, ivs, keys, v, lo, hi, bw) =>
      (GraftTvf.strLit(pts), GraftTvf.strLit(ivs), GraftTvf.strLit(keys),
        GraftTvf.strLit(v), GraftTvf.strLit(lo), GraftTvf.strLit(hi),
        GraftTvf.longLit(bw)) match {
        case (Some(pp), Some(ip), Some(ks), Some(vc), Some(lc), Some(hc), Some(w)) =>
          val s = GraftTvf.session
          GraftTvf.analyzed(graft.ops.JoinOps.rangeJoin(
            GraftTvf.sourceOf(s, pp), GraftTvf.sourceOf(s, ip),
            cols(ks), vc, lc, hc, w))
        case _ => fail("graft_range", "sources/columns must be string " +
          "literals and binWidth an integer literal")
      }
    case _ => fail("graft_range",
      "usage: graft_range('<pointsSrc>', '<intervalsSrc>', '<k1,...>', '<vCol>', '<loCol>', '<hiCol>', <binWidth>)")
  }

  private def fail(fn: String, msg: String): Nothing =
    throw new UnsupportedOperationException(s"$fn: $msg")
}

/** `spark.sql.extensions` entry point. Order matters: the MERGE rule must
  * claim its target relation before the read rule expands relations.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(_ => GraftSqlMergeRule)
    ext.injectResolutionRule(s => new GraftSqlReadRule(s))
    ext.injectTableFunction((GraftChangesTvf.ident, GraftChangesTvf.info,
      GraftChangesTvf.build _))
    ext.injectTableFunction((GraftMetaTvf.historyIdent, GraftMetaTvf.historyInfo,
      GraftMetaTvf.buildHistory _))
    ext.injectTableFunction((GraftMetaTvf.filesIdent, GraftMetaTvf.filesInfo,
      GraftMetaTvf.buildFiles _))
    ext.injectTableFunction((GraftMetaTvf.lineageIdent, GraftMetaTvf.lineageInfo,
      GraftMetaTvf.buildLineage _))
    ext.injectTableFunction((GraftMetaTvf.mvIdent, GraftMetaTvf.mvInfo,
      GraftMetaTvf.buildMv _))
    ext.injectTableFunction((GraftMaintTvf.compactIdent, GraftMaintTvf.compactInfo,
      GraftMaintTvf.buildCompact _))
    ext.injectTableFunction((GraftMaintTvf.expireIdent, GraftMaintTvf.expireInfo,
      GraftMaintTvf.buildExpire _))
    ext.injectTableFunction((GraftMaintTvf.vacuumIdent, GraftMaintTvf.vacuumInfo,
      GraftMaintTvf.buildVacuum _))
    ext.injectTableFunction((GraftMaintTvf.mvRefreshIdent, GraftMaintTvf.mvRefreshInfo,
      GraftMaintTvf.buildMvRefresh _))
    ext.injectTableFunction((GraftChunkTvf.chunksIdent, GraftChunkTvf.chunksInfo,
      GraftChunkTvf.buildChunks _))
    ext.injectTableFunction((GraftChunkTvf.packIdent, GraftChunkTvf.packInfo,
      GraftChunkTvf.buildPack _))
    ext.injectTableFunction((GraftAnalyzeTvf.hhIdent, GraftAnalyzeTvf.hhInfo,
      GraftAnalyzeTvf.buildHh _))
    ext.injectTableFunction((GraftAnalyzeTvf.bm25Ident, GraftAnalyzeTvf.bm25Info,
      GraftAnalyzeTvf.buildBm25 _))
    ext.injectTableFunction((GraftAnalyzeTvf.asofIdent, GraftAnalyzeTvf.asofInfo,
      GraftAnalyzeTvf.buildAsof _))
    ext.injectTableFunction((GraftAnalyzeTvf.rangeIdent, GraftAnalyzeTvf.rangeInfo,
      GraftAnalyzeTvf.buildRange _))
  }
}
