package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point: registers graft's native
  * expressions in the SQL function registry, so raw-SQL callers (the
  * EP1 entry point) get them too:
  *
  * {{{
  * SparkSession.builder()
  *   .withExtensions(new GraftExtensions)   // or
  *   .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
  * ...
  * spark.sql("SELECT graft_dotq(a.embedding_q, b.embedding_q) ...")
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { case (name, clazz, builder) =>
      ext.injectFunction((new FunctionIdentifier(name),
        new ExpressionInfo(clazz.getName, name), builder))
    }
    // SQL TEXT front-end for the table format (EP1 parity): MERGE
    // INTO / UPDATE / DELETE / OPTIMIZE / VACUUM / RESTORE / DESCRIBE
    // HISTORY|DETAIL statement text addressed at graft.`<path>`
    // routes to the ManifestTable/ZTable kernels; everything else
    // delegates to Spark's parser verbatim.
    ext.injectParser((_, delegate) =>
      new graft.sql.GraftSqlParser(delegate))
    // PREDICATE-DRIVEN FILE PRUNING (Snowflake's prune-on-every-query
    // posture): Filter over a committed graft scan is intersected
    // with the version's `_parts`/`_stats`/`_bloom` frames and the
    // scan's file index replaced by the provably-needed subset — the
    // SQL user gets partition, z-range, and Bloom pruning from the
    // WHERE clause with no API opt-in. Sound-by-construction; see
    // [[graft.plans.GraftPruneScans]].
    ext.injectOptimizerRule(session =>
      new graft.plans.GraftPruneScans(session))
    // the in-scan deletion-vector filter runs after the caller's own
    // conjuncts, on the rows they keep ([[graft.plans.LiveRowsLast]])
    ext.injectOptimizerRule(_ => graft.plans.LiveRowsLast)
    // READ surface as table-valued functions (the FROM-clause side of
    // EP1 parity — Delta exposes table_changes() the same way):
    //   graft_table('/p')              current version
    //   graft_version('/p', v)         VERSION AS OF
    //   graft_as_of('/p', 'utc ts')    TIMESTAMP AS OF
    //   graft_changes('/p', f, t, 'k') CDF net diff keyed by k (csv)
    // Builders return the SAME read plans the Scala API produces —
    // the analyzer splices them in place of the TVF reference.
    GraftExtensions.tableFunctions.foreach { case (name, builder) =>
      ext.injectTableFunction((new FunctionIdentifier(name),
        new ExpressionInfo("graft.expressions.GraftExtensions", name),
        builder))
    }
  }
}

object GraftExtensions {
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dotq", classOf[LongArrayDot], { args =>
      require(args.length == 2, "graft_dotq(arrayA, arrayB)")
      LongArrayDot(args.head, args(1))
    }),
    ("graft_md5prefix60", classOf[Md5Prefix60], { args =>
      require(args.length == 1, "graft_md5prefix60(str)")
      Md5Prefix60(args.head)
    }),
    ("graft_nfc", classOf[NfcNormalize], { args =>
      require(args.length == 1, "graft_nfc(str)")
      NfcNormalize(args.head)
    }),
    ("graft_word_shingles", classOf[WordShingles], { args =>
      require(args.length == 2, "graft_word_shingles(text, n)")
      val n = args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => throw new IllegalArgumentException(
          s"graft_word_shingles: n must be an integer literal, got $other")
      }
      WordShingles(args.head, n)
    }))

  /** Table-valued READ functions over the manifest store. Arguments
    * must be literals (a table path is configuration, not data); the
    * plan is built against the ACTIVE session at analysis time and
    * spliced into the query — the same read path as the Scala API,
    * so SQL and Scala reads can never diverge. */
  private def tvArgs(name: String, args: Seq[Expression],
      n: Int): Seq[Any] = {
    require(args.length == n,
      s"$name takes $n literal argument(s), got ${args.length}")
    args.map {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _) =>
        v match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => other
        }
      case other => throw new IllegalArgumentException(
        s"$name arguments must be literals, got $other")
    }
  }

  private def numArg(v: Any): Long = v match {
    case l: Long => l
    case i: Int => i.toLong
    case other => throw new IllegalArgumentException(
      s"expected an integer literal, got $other")
  }

  private def planOf(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.logical

  /** A TVF's first argument addresses a table: an absolute path is
    * used verbatim; anything else resolves through the name catalog
    * (`graft_table('silver.fact_shipments')` — EP1's 3-part names on
    * the READ side too). */
  private def rootOf(arg: Any): String = {
    val s = arg.toString
    if (s.startsWith("/") || s.contains("://")) s
    else graft.sql.GraftCatalog.resolve(s).getOrElse(
      throw new IllegalArgumentException(
        s"table name '$s' does not resolve — register it with " +
          "GRAFT CATALOG REGISTER <name> AT '<dir>' or SET BASE"))
  }

  private val tableFunctions: Seq[(String,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan)] = Seq(
    ("graft_table", { args =>
      val Seq(root) = tvArgs("graft_table", args, 1)
      val spark = org.apache.spark.sql.SparkSession.active
      planOf(graft.ops.ManifestTable.read(spark, rootOf(root))
        .getOrElse(throw new IllegalArgumentException(
          s"graft_table: no committed version at $root")))
    }),
    ("graft_version", { args =>
      val Seq(root, v) = tvArgs("graft_version", args, 2)
      val spark = org.apache.spark.sql.SparkSession.active
      planOf(graft.ops.ManifestTable.readVersion(spark,
        rootOf(root), numArg(v)))
    }),
    ("graft_as_of", { args =>
      val Seq(root, ts) = tvArgs("graft_as_of", args, 2)
      val spark = org.apache.spark.sql.SparkSession.active
      val millis = java.time.LocalDateTime
        .parse(ts.toString.trim.replace(' ', 'T'))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      planOf(graft.ops.ManifestTable.readAsOf(spark, rootOf(root),
        millis))
    }),
    ("graft_changes", { args =>
      val Seq(root, f, t, keys) = tvArgs("graft_changes", args, 4)
      val spark = org.apache.spark.sql.SparkSession.active
      planOf(graft.ops.ManifestTable.changes(spark, rootOf(root),
        numArg(f), numArg(t),
        keys.toString.split(",").map(_.trim).filter(_.nonEmpty).toSeq))
    }),
    ("graft_partition", { args =>
      val Seq(root, values) = tvArgs("graft_partition", args, 2)
      val spark = org.apache.spark.sql.SparkSession.active
      planOf(graft.ops.PartitionedTable.readPartitions(spark,
        rootOf(root), values.toString.split(",").map(_.trim)
          .filter(_.nonEmpty).toSeq))
    }))

  /** Retrofit registration for an ALREADY-RUNNING session (builder
    * extensions only apply at session construction; getOrCreate on an
    * existing session silently skips them). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    functions.foreach { case (name, _, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
}
