package graft.pbp

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Config-driven play-type classifier (SURVEY §2.8 F1/F2; semantics per
  * /root/reference/src/cbbd_etl/pbp_stats.py:10-110 with the published
  * pattern config /root/reference/docs/pbp_playtype_patterns.yaml).
  *
  * Two equivalent forms:
  *  - column expressions (`rlike` on an `(?i)` alternation) for
  *    DataFrame pipelines — codegen'd, no UDF (SURVEY §2.11);
  *  - a plain-Scala `classify` for the possession engine's per-row
  *    state machine, where flags feed procedural lookahead.
  */
final case class PatternConfig(
    turnover: Seq[String] = Seq("Offensive Charge", "Lost Ball Turnover", "Foul Turnover"),
    defRebound: Seq[String] = Seq("Defensive Rebound", "Dead Ball Rebound"),
    offRebound: Seq[String] = Seq("Offensive Rebound"),
    ftLast: Seq[String] = Seq("Free Throw 1 of 1"),
    periodEnd: Seq[String] = Seq("End Game", "End Period"),
    shot: Seq[String] = Seq("Shot", "JumpShot", "RegularJumpShot", "LayUpShot",
      "LayupShot", "DunkShot", "TipShot", "Three Pointer", "Three Point Jump Shot"),
    freeThrow: Seq[String] = Seq("Free Throw"))

final case class PlayFlags(
    isTurnover: Boolean = false,
    isDefRebound: Boolean = false,
    isOffRebound: Boolean = false,
    isMadeFg: Boolean = false,
    isMissedFg: Boolean = false,
    isMadeFt: Boolean = false,
    isMissedFt: Boolean = false,
    isLastFt: Boolean = false,
    isPeriodEnd: Boolean = false) {
  def isFga: Boolean = isMadeFg || isMissedFg
  def endsPossession: Boolean =
    isTurnover || isDefRebound || isMadeFg || (isMadeFt && isLastFt) || isPeriodEnd
}

final class PlayClassifier(cfg: PatternConfig = PatternConfig()) extends Serializable {

  private def compiled(pats: Seq[String]) =
    pats.map(p => java.util.regex.Pattern.compile(p,
      java.util.regex.Pattern.CASE_INSENSITIVE))
  private val pTurnover = compiled(cfg.turnover)
  private val pDefReb = compiled(cfg.defRebound)
  private val pOffReb = compiled(cfg.offRebound)
  private val pFtLast = compiled(cfg.ftLast)
  private val pPeriodEnd = compiled(cfg.periodEnd)
  private val pShot = compiled(cfg.shot)
  private val pFt = compiled(cfg.freeThrow)

  private def any(ps: Seq[java.util.regex.Pattern], text: String): Boolean =
    ps.exists(_.matcher(text).find())

  /** Mirrors reference classify (pbp_stats.py:80-110): scoringPlay
    * splits made/missed; shootingPlay overrides the shot patterns;
    * scoreValue==1.0 is the primary FT signal; FT suppresses shot. */
  def classify(playType: Option[String], playText: Option[String],
      scoringPlay: Boolean, shootingPlay: Option[Boolean],
      scoreValue: Option[Double]): PlayFlags = {
    val text = (playType.getOrElse("") + " " + playText.getOrElse("")).trim
    if (text.isEmpty) return PlayFlags()
    var isShot = shootingPlay.getOrElse(any(pShot, text))
    val isFt = scoreValue.map(_ == 1.0).getOrElse(any(pFt, text))
    if (isFt) isShot = false
    PlayFlags(
      isTurnover = any(pTurnover, text),
      isDefRebound = any(pDefReb, text),
      isOffRebound = any(pOffReb, text),
      isMadeFg = isShot && scoringPlay,
      isMissedFg = isShot && !scoringPlay,
      isMadeFt = isFt && scoringPlay,
      isMissedFt = isFt && !scoringPlay,
      isLastFt = any(pFtLast, text),
      isPeriodEnd = any(pPeriodEnd, text))
  }

  // ---- column-expression form ---------------------------------------------

  private def rx(pats: Seq[String]): String =
    "(?i)(" + pats.map(java.util.regex.Pattern.quote).mkString("|") + ")"

  /** text = playType + " " + playText, the classification input. */
  def textCol(playType: Column, playText: Column): Column =
    trim(concat_ws(" ", coalesce(playType, lit("")), coalesce(playText, lit(""))))

  def isTurnoverCol(text: Column): Column = text.rlike(rx(cfg.turnover))
  def isDefReboundCol(text: Column): Column = text.rlike(rx(cfg.defRebound))
  def isOffReboundCol(text: Column): Column = text.rlike(rx(cfg.offRebound))
  def isPeriodEndCol(text: Column): Column = text.rlike(rx(cfg.periodEnd))
  def isLastFtCol(text: Column): Column = text.rlike(rx(cfg.ftLast))
  def isFtCol(text: Column, scoreValue: Column): Column =
    when(scoreValue.isNotNull, scoreValue === 1.0)
      .otherwise(text.rlike(rx(cfg.freeThrow)))
  def isShotCol(text: Column, shootingPlay: Column, scoreValue: Column): Column =
    when(isFtCol(text, scoreValue), lit(false))
      .otherwise(coalesce(shootingPlay, text.rlike(rx(cfg.shot))))
}
