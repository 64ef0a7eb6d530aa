package graft.streaming

import org.apache.spark.sql.Dataset

/** T4 — the alert state machine (cache.py:601-630, doc/alerts.rst:42-74):
  * per (alert, PV) compare each observed value against the trippoint with one
  * of {eq,ne,le,lt,ge,gt}; an ok→alarm edge fires a notification iff the
  * debounce timeout since the last notification has passed. No notification
  * on stay-alarm or on alarm→ok. Inactive alerts are skipped.
  *
  * Value coercion mirrors the reference (cache.py:609-616): numeric compare
  * when both value and trippoint parse as doubles, else string compare.
  *
  * One [[KeyedFold]] drives the batch replay (tests, backfill audits) and
  * the streaming form. State per alert is two scalars — no scale concern at
  * any fleet size.
  */
object Alerts {

  case class AlertConfig(
      alertId: Long,
      pvname: String,
      label: String,
      compare: String, // eq ne le lt ge gt
      trippoint: String,
      timeoutUs: Long,
      active: Boolean)

  /** One observation of the alert's PV. */
  case class Observation(alertId: Long, tsUs: Long, value: String)

  /** Status-transition record; `notified` marks a mail-worthy edge. */
  case class AlertEvent(
      alertId: Long,
      pvname: String,
      tsUs: Long,
      value: String,
      status: String,
      notified: Boolean)

  case class State(status: String, lastNoticeUs: Long)

  val InitState: State = State("ok", Long.MinValue / 2)

  /** value <op> trippoint (cache.py:617-620 `getattr(value, OPS[op])`). */
  def tripped(compare: String, value: String, trippoint: String): Boolean = {
    val cmpNum = (Downsampler.parseDouble(value), Downsampler.parseDouble(trippoint)) match {
      case (Some(v), Some(t)) => Some(java.lang.Double.compare(v, t))
      case _ => None
    }
    val c = cmpNum.getOrElse(Option(value).getOrElse("").compareTo(Option(trippoint).getOrElse("")))
    compare match {
      case "eq" => c == 0
      case "ne" => c != 0
      case "le" => c <= 0
      case "lt" => c < 0
      case "ge" => c >= 0
      case "gt" => c > 0
      case other => throw new IllegalArgumentException(s"unknown compare op: $other")
    }
  }

  /** Evaluate one observation: returns the updated state and emits the
    * transition event, if any. Status updates on EVERY evaluation;
    * `notified` only on a debounced ok→alarm edge.
    */
  private def evaluate(st: State, cfg: AlertConfig, o: Observation,
      emit: AlertEvent => Unit): State =
    if (!cfg.active) st
    else {
      val nowAlarm = tripped(cfg.compare, o.value, cfg.trippoint)
      val status = if (nowAlarm) "alarm" else "ok"
      val edge = st.status == "ok" && nowAlarm
      val notify = edge && o.tsUs > st.lastNoticeUs + cfg.timeoutUs
      if (status != st.status || notify)
        emit(AlertEvent(cfg.alertId, cfg.pvname, o.tsUs, o.value, status, notify))
      State(status, if (notify) o.tsUs else st.lastNoticeUs)
    }

  /** The alert fold ([[KeyedFold]]); an alert without a config keeps no
    * state and emits nothing.
    */
  private final class Fold(configs: Map[Long, AlertConfig])
      extends KeyedFold[Long, Observation, State, AlertEvent] {
    def init(id: Long): State = if (configs.contains(id)) InitState else null
    def step(id: Long, st: State, o: Observation, emit: AlertEvent => Unit): State =
      if (st == null) st else evaluate(st, configs(id), o, emit)
  }

  /** OPTOKENS → OPSTRINGS (cache.py:31-34). */
  val opDescription: Map[String, String] = Map(
    "ne" -> "not equal to", "eq" -> "equal to",
    "le" -> "less than or equal to", "lt" -> "less than",
    "ge" -> "greater than or equal to", "gt" -> "greater than")

  /** Mail body for a notified event (send_alert_mail, cache.py:632-703):
    * template interpolation incl. nested %PV(name)% lookups against the
    * latest-value view, plus the plot link line the reference appends.
    */
  def mailBody(
      cfg: AlertConfig,
      ev: AlertEvent,
      template: String,
      lookup: String => Option[String],
      plotBaseUrl: String = ""): String = {
    val msg = if (template == null || template.isEmpty) "error message" else template
    val body = graft.functions.PvFunctions.mailTemplate(
      msg, cfg.pvname, ev.value, cfg.label,
      opDescription.getOrElse(cfg.compare, "not equal to"), cfg.trippoint, lookup)
    if (plotBaseUrl.isEmpty) body
    else s"$body\nSee $plotBaseUrl/plot/1days/now/${cfg.pvname}"
  }

  def replayKey(obs: Iterable[Observation], cfg: AlertConfig): Vector[AlertEvent] =
    KeyedFold.run(new Fold(Map(cfg.alertId -> cfg)), (_: Observation) => cfg.alertId,
      obs.iterator).toVector

  /** Batch replay of alert evaluation over an observation Dataset
    * ([[KeyedFold.batch]]).
    */
  def replayBatch(
      ds: Dataset[Observation],
      configs: Map[Long, AlertConfig]): Dataset[AlertEvent] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.batch(ds, new Fold(configs), (o: Observation) => o.alertId,
      "alertId", "tsUs", "value")
  }

  /** One composed alert mail, ready for an SMTP (or any) transport. */
  final case class Mail(alertId: Long, pvname: String, tsUs: Long,
      mailTo: String, subject: String, body: String)

  /** Compose the mail for ONE notified event — the send_alert_mail
    * assembly (cache.py:632-703): subject `[Epics Alert] <label>`,
    * recipient stripped of CR/LF (cache.py:646), body via the F15
    * template interpolation + plot link. `None` mirrors the reference's
    * silent skip when mailto or pvname is empty (cache.py:642-643).
    */
  def composeMail(cfg: AlertConfig, ev: AlertEvent, mailTo: String,
      template: String, lookup: String => Option[String],
      plotBaseUrl: String = ""): Option[Mail] =
    if (mailTo == null || mailTo.isEmpty || cfg.pvname == null || cfg.pvname.isEmpty) None
    else Some(Mail(ev.alertId, cfg.pvname, ev.tsUs,
      mailTo.replace("\r", "").replace("\n", ""),
      s"[Epics Alert] ${cfg.label}",
      mailBody(cfg, ev, template, lookup, plotBaseUrl)))

  /** Delivery sink over the alert event stream: wires
    * [[streaming]] through `foreachBatch` so each micro-batch delivers
    * exactly the debounced ok→alarm edges the state machine marked
    * `notified` — one mail per edge, none on stay-alarm or alarm→ok
    * (doc/alerts.rst:42-48) — composed via [[composeMail]] and handed to
    * `send` (an SMTP transport in production, a buffer in tests).
    *
    * Scale/semantics notes:
    *  - notified events are DEBOUNCE-BOUNDED (≤ 1 per alert per timeout
    *    window), so the per-batch collect is control-plane-sized by
    *    construction, like the reference's single-process mail loop;
    *  - delivery order inside a batch is deterministic (tsUs, alertId);
    *  - delivery is AT-LEAST-ONCE: a batch that fails after `send` may
    *    re-run on restart (checkpoint recommended), the same contract as
    *    any SMTP alerting path; exactly-once would need a per-batch
    *    delivered record (the technique of the store sink's commit log,
    *    [[graft.store.CommitLog]]).
    */
  def deliverStream(
      obs: Dataset[Observation],
      configs: Map[Long, AlertConfig],
      mailTo: Map[Long, String],
      templates: Map[Long, String],
      lookup: String => Option[String],
      send: Mail => Unit,
      plotBaseUrl: String = "",
      checkpoint: Option[String] = None,
      triggerMs: Long = 1000L): org.apache.spark.sql.streaming.StreamingQuery = {
    val events = streaming(obs, configs)
    val writer = events.filter(_.notified).writeStream
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(triggerMs))
      .foreachBatch { (batch: Dataset[AlertEvent], _: Long) =>
        // driver collect BY DESIGN (the documented size-gate convention):
        // notified events are debounce-bounded — ≤ 1 per alert per timeout
        // window — so a batch holds O(configs.size × windows-per-batch)
        // rows: alert-CONFIG cardinality, never data volume. Delivery must
        // be a serial ordered side effect (SMTP), not a distributed write.
        // AlertsSpec pins the debounce bound.
        batch.collect().sortBy(e => (e.tsUs, e.alertId)).foreach { ev =>
          configs.get(ev.alertId).foreach { cfg =>
            composeMail(cfg, ev, mailTo.getOrElse(ev.alertId, ""),
              templates.getOrElse(ev.alertId, ""), lookup, plotBaseUrl)
              .foreach(send)
          }
        }
        ()
      }
    checkpoint.foreach(c => writer.option("checkpointLocation", c))
    writer.start()
  }

  /** Streaming form (SURVEY §2.9 T4; [[KeyedFold.streaming]]). */
  def streaming(
      ds: Dataset[Observation],
      configs: Map[Long, AlertConfig]): Dataset[AlertEvent] = {
    val spark = ds.sparkSession
    import spark.implicits._
    KeyedFold.streaming(ds, new Fold(configs), (o: Observation) => o.alertId,
      Downsampler.eventOrder[Observation](_.tsUs, _.value))
  }
}
