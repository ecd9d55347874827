package graft.wap

import org.apache.spark.sql.DataFrame
import graft.quality.{Audit, AuditReport, Expect}

/** Failure-notification hook. The reference posts to Slack
  * (app.py:63-100 send_slack_alert); graft keeps the same seam as a trait
  * so any transport plugs in. Default implementation logs. */
trait Alerter {
  def alert(table: String, branch: String, report: AuditReport): Unit
}

object LogAlerter extends Alerter {
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.wap")
  def alert(table: String, branch: String, report: AuditReport): Unit =
    log.warn(s"Quality check failed on table $table in branch $branch: " +
      report.failed.map(c => s"${c.name}=${c.violations}").mkString(", "))
}

/** Collects alerts in memory — used by tests and the quality dashboard. */
class BufferAlerter extends Alerter {
  val alerts = scala.collection.mutable.ArrayBuffer.empty[(String, String, AuditReport)]
  def alert(table: String, branch: String, report: AuditReport): Unit =
    alerts += ((table, branch, report))
}

/** Generic webhook transport for the reference's Slack alert
  * (app.py:62-96 send_slack_alert): POSTs a JSON summary of the failed
  * audit to `url`. Mirrors the reference's behavior exactly where it
  * matters: an unset URL is a silent no-op (the reference skips when its
  * token env var is absent), so the alerter is safe to wire
  * unconditionally and configure per environment; and delivery failures
  * are logged, never thrown — the batch is already quarantined on its
  * branch, and alerting must not crash the pipeline on top of it.
  * The payload carries a Slack-compatible `text` field plus structured
  * per-check detail for any other webhook consumer. */
class HttpWebhookAlerter(
    url: Option[String],
    connectTimeoutMs: Int = 5000,
    readTimeoutMs: Int = 5000) extends Alerter {
  private val log = org.apache.logging.log4j.LogManager.getLogger("graft.wap")

  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def alert(table: String, branch: String, report: AuditReport): Unit = url.foreach { u =>
    val failed = report.failed
      .map(c => s"""{"check":${jstr(c.name)},"violations":${c.violations}}""")
      .mkString(",")
    val text = s"Quality check failed on table $table in branch $branch: " +
      report.failed.map(c => s"${c.name}=${c.violations}").mkString(", ")
    val body = s"""{"text":${jstr(text)},"table":${jstr(table)},""" +
      s""""branch":${jstr(branch)},"failed":[$failed]}"""
    try {
      val conn = new java.net.URI(u).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setConnectTimeout(connectTimeoutMs)
      conn.setReadTimeout(readTimeoutMs)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("Content-Type", "application/json")
      conn.setDoOutput(true)
      val out = conn.getOutputStream
      try out.write(body.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      val code = conn.getResponseCode
      if (code < 200 || code >= 300)
        log.warn(s"webhook alert for $table@$branch returned HTTP $code")
      conn.disconnect()
    } catch {
      case e: Exception =>
        log.warn(s"webhook alert for $table@$branch failed: ${e.getMessage}")
    }
  }
}

/** Human-readable branch names (reference app.py:154 uses the
  * `friendlywords` package for its WAP branches): adjective-animal-nnn,
  * e.g. "brisk-otter-412". Random by default; seeded form is
  * deterministic for tests/replays. Streaming ingest keeps its
  * deterministic `ingest-<table>-<batchId>` names (restart-safe). */
object BranchNames {
  private val adjectives = Vector(
    "amber", "bold", "brisk", "calm", "clever", "crisp", "deft", "eager",
    "fleet", "gentle", "keen", "lively", "mellow", "nimble", "quiet",
    "rapid", "sleek", "spry", "steady", "sunny", "swift", "tidy",
    "vivid", "wise", "zesty")
  private val animals = Vector(
    "badger", "bison", "crane", "dingo", "falcon", "gecko", "heron",
    "ibex", "jackal", "koala", "lemur", "marten", "newt", "ocelot",
    "otter", "panda", "quokka", "raven", "stork", "tapir", "urchin",
    "vole", "walrus", "yak", "zebra")
  def friendly(): String =
    friendly(java.util.concurrent.ThreadLocalRandom.current().nextLong())
  def friendly(seed: Long): String = {
    // splitmix64 finisher: decorrelates sequential seeds
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z = z ^ (z >>> 31)
    val a = adjectives(java.lang.Long.remainderUnsigned(z, adjectives.size).toInt)
    val n = animals(java.lang.Long.remainderUnsigned(z >>> 16, animals.size).toInt)
    val num = java.lang.Long.remainderUnsigned(z >>> 32, 1000L)
    s"$a-$n-$num"
  }
}

case class WapResult(branch: String, published: Boolean, report: AuditReport)

/** What the audit step reads — see [[Wap.run]]. */
sealed trait AuditScope
object AuditScope {
  case object Delta extends AuditScope
  case object FullTable extends AuditScope
}

/** Write-Audit-Publish orchestration — the reference's lambda_handler
  * (app.py:248-317) re-expressed over [[BranchCatalog]]:
  *
  *  1. WRITE: create table if missing; fork an isolated branch from main;
  *     append the batch there. Main readers cannot see it.
  *  2. AUDIT: read the table back *in the branch* (exactly as the
  *     reference re-reads via the catalog rather than trusting the input
  *     batch, app.py:210-215), metadata first: a suite of `NotNull` and
  *     `RowCountMin` checks is answered from the audited manifests' exact
  *     row and null counts ([[Audit.fromMetadata]] over
  *     [[BranchCatalog.metaAggregateDelta]], or over
  *     [[BranchCatalog.metaAggregate]] of the branch head in full-table
  *     scope) with no Spark job, as the reference's PyIceberg scan plans
  *     its IsNull filter against manifest null counts. Any other check,
  *     a non-exact manifest (imported files) or a pending tombstone or
  *     position sidecar on the branch runs the suite as one aggregation
  *     pass over the scanned scope instead; the delta scan applies the
  *     branch's sidecars, so rows the branch deleted are not audited.
  *     Cross checks always read the scanned scope.
  *  3. PUBLISH: on pass, merge the branch into main (pure metadata
  *     commit) and drop it; on fail, leave the branch for inspection and
  *     fire the alerter.
  */
object Wap {

  /** @param auditScope [[AuditScope.Delta]] (default) audits only the
    *   data this branch added since forking — O(batch) per commit, the
    *   only viable shape at 100 TB (already-published data was audited
    *   when IT landed). [[AuditScope.FullTable]] re-audits the whole
    *   branch table, matching the reference's demo behavior literally —
    *   use it for table-global expectations (e.g. UniqueKey across all
    *   history). */
  def run(
      catalog: BranchCatalog,
      table: String,
      batch: DataFrame,
      checks: Seq[Expect],
      branchName: String,
      alerter: Alerter = LogAlerter,
      dropBranchOnPublish: Boolean = true,
      auditScope: AuditScope = AuditScope.Delta,
      /** Checks needing a second input — drift vs the published table,
        * FK integrity vs a dimension ([[graft.quality.DriftCheck]] /
        * [[graft.quality.OrphanCheck]]). They audit the same scope and
        * merge into the same report: a drifting batch quarantines
        * exactly like a null violation. Resolved AT AUDIT TIME, so a
        * `() => catalog.scan(dim)` reference sees the currently
        * published state. */
      crossChecks: Seq[graft.quality.CrossCheck] = Seq.empty,
      /** `(key, epoch)` recorded in [[Refs.streamEpochs]] INSIDE the
        * publishing merge commit — the streaming sink's exactly-once
        * anchor ([[graft.sql.GraftStreamingWrite]]): either the epoch's
        * data is on main AND the epoch is recorded, or neither. Not
        * stamped on a failed audit (nothing published — the sink stamps
        * the quarantine separately). */
      epochStamp: Option[(String, Long)] = None,
      /** Evolve-on-ingest (Delta mergeSchema through WAP): the BRANCH's
        * schema evolves for the batch's new/widened columns, the audit
        * runs over the evolved shape, and the publish carries the schema
        * to main through the 3-way schema merge. */
      schemaEvolution: Boolean = false): WapResult = {
    catalog.createTableIfNotExists(table, batch.schema)
    catalog.createBranch(branchName, from = "main")
    catalog.append(table, batch, branchName, schemaEvolution = schemaEvolution)
    auditAndPublish(catalog, table, branchName, checks, crossChecks,
      auditScope, alerter, dropBranchOnPublish, epochStamp)
  }

  /** CDC-flavored WAP: the batch UPSERTS into the branch (keyed replace-
    * or-insert) instead of appending — re-delivered or corrected records
    * update in place rather than duplicating. The audit's Delta scope
    * covers every manifest the upsert touched (so rewritten neighbors of
    * the batch re-audit alongside it); publishing rides the 3-way merge,
    * which carries the upsert's manifest removals and fails loudly on a
    * conflicting concurrent rewrite of main (rebase + retry). */
  def runUpsert(
      catalog: BranchCatalog,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      checks: Seq[Expect],
      branchName: String,
      alerter: Alerter = LogAlerter,
      dropBranchOnPublish: Boolean = true,
      auditScope: AuditScope = AuditScope.Delta,
      crossChecks: Seq[graft.quality.CrossCheck] = Seq.empty): WapResult = {
    catalog.createTableIfNotExists(table, batch.schema)
    catalog.createBranch(branchName, from = "main")
    catalog.upsert(table, batch, keys, branchName)
    auditAndPublish(catalog, table, branchName, checks, crossChecks,
      auditScope, alerter, dropBranchOnPublish)
  }

  /** MOR-flavored CDC apply: AUDIT-THEN-APPLY. The branch+merge WAP
    * cycle cannot carry pending tombstones (merge refuses, by design —
    * the two delete representations must not interleave), so this flow
    * audits the BATCH itself (plus cross checks) BEFORE touching the
    * table, then applies it as ONE tombstones+append commit straight to
    * the target branch — the refs commit IS the atomic publish
    * ([[BranchCatalog.upsertKeysMOR]]: zero file rewrites, O(batch) per
    * micro-batch at any table size). Failed batches append to a
    * quarantine branch for inspection, exactly like WAP's unmerged
    * branch. Tradeoff vs [[runUpsert]]: no post-write re-audit of
    * rewritten neighbor rows — MOR rewrites none, so the batch audit IS
    * the delta audit. Run data compaction periodically to materialize
    * accumulated tombstones. */
  def runUpsertMOR(
      catalog: BranchCatalog,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      checks: Seq[Expect],
      quarantineBranch: String,
      alerter: Alerter = LogAlerter,
      crossChecks: Seq[graft.quality.CrossCheck] = Seq.empty,
      /** Recorded INSIDE the applying commit on pass — the streaming
        * sink's exactly-once anchor for CDC mode (quarantine stamps
        * separately, as for append mode). */
      epochStamp: Option[(String, Long)] = None,
      schemaEvolution: Boolean = false): WapResult = {
    catalog.createTableIfNotExists(table, batch.schema)
    val base = Audit.run(batch, checks)
    val report = base.copy(checks = base.checks ++ crossChecks.map(_.run(batch)))
    if (report.passed) {
      catalog.upsertKeysMOR(table, batch, keys, epochStamp = epochStamp,
        schemaEvolution = schemaEvolution)
    } else {
      catalog.createBranch(quarantineBranch, from = "main")
      catalog.append(table, batch, quarantineBranch)
      alerter.alert(table, quarantineBranch, report)
    }
    WapResult(quarantineBranch, report.passed, report)
  }

  /** Audited CDC APPLY ([[BranchCatalog.applyCdcMOR]]): the audit runs
    * on the batch's INSERT rows — the only new content entering the
    * table; deletes carry keys, not values. On pass the whole batch
    * (deletes + inserts) applies in one MOR commit with the epoch
    * recorded inside it; on fail NOTHING applies — the full change
    * batch (with its `_change_type` column) quarantines in
    * `<table>__cdc_quarantine` on the epoch branch, so the operator can
    * inspect exactly what was refused, deletes included. */
  def runApplyCdc(
      catalog: BranchCatalog,
      table: String,
      batch: DataFrame,
      keys: Seq[String],
      checks: Seq[Expect],
      quarantineBranch: String,
      alerter: Alerter = LogAlerter,
      epochStamp: Option[(String, Long)] = None,
      schemaEvolution: Boolean = false): WapResult = {
    import org.apache.spark.sql.functions.col
    val inserts = batch.filter(col("_change_type") === "insert")
      .drop("_change_type", "_commit_seq", "_commit_snapshot_id")
    val report = Audit.run(inserts, checks)
    if (report.passed) {
      catalog.applyCdcMOR(table, batch, keys, epochStamp = epochStamp,
        schemaEvolution = schemaEvolution)
    } else {
      catalog.createBranch(quarantineBranch, from = "main")
      catalog.createTableIfNotExists(s"${table}__cdc_quarantine", batch.schema,
        quarantineBranch)
      catalog.append(s"${table}__cdc_quarantine", batch, quarantineBranch)
      alerter.alert(table, quarantineBranch, report)
    }
    WapResult(quarantineBranch, report.passed, report)
  }

  private[graft] def auditAndPublish(
      catalog: BranchCatalog, table: String, branchName: String,
      checks: Seq[Expect], crossChecks: Seq[graft.quality.CrossCheck],
      auditScope: AuditScope, alerter: Alerter,
      dropBranchOnPublish: Boolean,
      epochStamp: Option[(String, Long)] = None): WapResult = {
    // the scan is planned even when the metadata answers (planning reads
    // metadata only): it is the fallback's and the cross checks' input
    val (audited, answer) = auditScope match {
      case AuditScope.Delta => (catalog.scanBranchDelta(table, branchName),
        (aggs: Seq[MetaAgg]) => catalog.metaAggregateDelta(table, branchName, aggs))
      case AuditScope.FullTable => (catalog.scan(table, branchName),
        (aggs: Seq[MetaAgg]) => catalog.snapshotIdOf(table, branchName)
          .flatMap(catalog.metaAggregate(table, _, aggs)))
    }
    val base = Audit.fromMetadata(checks, answer).getOrElse(Audit.run(audited, checks))
    val report = base.copy(checks = base.checks ++ crossChecks.map(_.run(audited)))

    if (report.passed) {
      catalog.merge(branchName, into = "main", epochStamp)
      if (dropBranchOnPublish) catalog.dropBranch(branchName)
    } else {
      alerter.alert(table, branchName, report)
    }
    WapResult(branchName, report.passed, report)
  }
}
