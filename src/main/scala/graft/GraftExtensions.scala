package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.graft.Bridge

import graft.functions._

/** SQL registration for graft's native expressions (SURVEY §3) and the
  * catalog's SQL rules, so every operator AND every lake table is
  * reachable from `spark.sql` as well as the Column API:
  *
  *  - at session BUILD time: `spark.sql.extensions=graft.GraftExtensions`
  *    or `SparkSession.builder().withExtensions(new GraftExtensions)`
  *  - on an EXISTING session: `GraftFunctions.register(spark)` (functions
  *    only — rules and strategies can only bind at session build, which
  *    is why [[GraftSession.configure]] sets the extensions conf)
  *
  * Lake-table reads need no extension: every session plans them through
  * the catalog's connector scan ([[graft.sql.GraftTable.newScanBuilder]]).
  * Metadata-only aggregates, filtered or not, are pushed into the scan in
  * every session too. The extensions add job-free planning of those
  * pushed aggregates and of a global aggregate over a catalog scan whose
  * files are all pruned away (an empty local relation — the WAP audit
  * count of a clean batch), SQL UPDATE/MERGE, branch-versioned views and
  * the partition-evolution DDL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name), GraftFunctions.info(name), builder))
    }
    // a pushed metadata aggregate, and a global aggregate over a fully
    // pruned scan, answer on the driver with no Spark job
    ext.injectPlannerStrategy(_ => graft.sql.GraftMetaAggStrategy)
    // SQL UPDATE / MERGE INTO on catalog tables lower onto the native
    // row-level ops (updateWhere / mergeInto) — see GraftDmlLowering
    ext.injectResolutionRule(new graft.sql.GraftDmlLowering(_))
    // branch-versioned views: CREATE/DROP/SHOW VIEW on graft catalogs +
    // view-reference expansion. Injected into the HINTS batch (which
    // precedes Resolution): ResolveSessionCatalog refuses view DDL on
    // non-session catalogs unconditionally in the same pass that
    // resolves the identifier, so a resolution rule can never win that
    // race — see GraftViewRules
    ext.injectHintResolutionRule(new graft.sql.GraftViewRules(_))
    // Iceberg-style partition-evolution DDL (`ALTER TABLE ... ADD/DROP
    // PARTITION FIELD <transform>`) — vanilla Spark has no grammar for
    // it, so a thin delegating parser claims exactly those two statement
    // shapes and hands everything else through (see GraftSqlParser)
    ext.injectParser((_, parser) => new graft.sql.GraftSqlParser(parser))
  }
}

object GraftFunctions {

  private def intArg(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }
  private def longArg(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  /** name -> builder for every graft SQL function. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim_f" -> { args =>
      require(args.length == 2, "cosine_sim_f(a, b)")
      CosineSimF(args(0), args(1))
    },
    "dot_f" -> { args =>
      require(args.length == 2, "dot_f(a, b)")
      DotProductF(args(0), args(1))
    },
    "minhash_sig" -> { args =>
      require(args.length == 2, "minhash_sig(shingles, k)")
      MinHashSig(args(0), intArg(args(1), "k"))
    },
    "simhash64" -> { args =>
      require(args.length == 1, "simhash64(tokens)")
      SimHash64(args(0))
    },
    "rolling_fp64" -> { args =>
      require(args.length == 1, "rolling_fp64(tokens)")
      RollingFp64(args(0))
    },
    "shingle_hashes" -> { args =>
      require(args.length == 2, "shingle_hashes(text, n)")
      ShingleHashes(args(0), intArg(args(1), "n"))
    },
    "norm_hash64" -> { args =>
      require(args.length == 1, "norm_hash64(text)")
      NormHash64(args(0))
    },
    "srp_bands" -> { args =>
      require(args.length >= 3 && args.length <= 4, "srp_bands(vec, bits, tables[, seed])")
      SrpBands(args(0), intArg(args(1), "bits"), intArg(args(2), "tables"),
        if (args.length == 4) longArg(args(3), "seed") else 0L)
    },
    "token_counts" -> { args =>
      require(args.length == 1, "token_counts(text)")
      TokenCounts(args(0))
    },
    "text_quality_stats" -> { args =>
      // stopwords as a comma-separated string literal keeps the SQL
      // surface to plain scalar arguments
      require(args.length == 2, "text_quality_stats(text, 'stop1,stop2,...')")
      val stops = args(1) match {
        case Literal(s, _) if s != null => s.toString.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
        case other => throw new IllegalArgumentException(
          s"stopwords must be a string literal, got $other")
      }
      TextQualityStats(args(0), stops)
    })

  private[graft] def info(name: String): ExpressionInfo =
    new ExpressionInfo("graft.functions", name)

  /** Idempotent runtime registration on an existing session. */
  def register(spark: SparkSession): Unit =
    all.foreach { case (name, builder) =>
      Bridge.registerFunction(spark, name, info(name), builder)
    }
}
