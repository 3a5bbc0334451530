package graft

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, Observation, Row}

/** The one driver loop behind every iterative operator (connected
  * components, two-star, PageRank, k-core, HITS, label propagation,
  * k-means, BPE training). It alone decides when a round is cut, when a
  * cut is released, how a loop's scalar is read, and when a loop gives
  * up.
  *
  *  - A round is CUT (flattened through [[Materialize]]) when the loop
  *    reads a driver scalar from it, or when it is a multiple of
  *    [[CutEvery]]. Between cuts a round stays lazy: the static sides a
  *    round reads are cut once, so a few rounds of lineage compose into
  *    shallow joins, while each cut bounds how deep the plan nests. An
  *    uncut nest of adaptive subtrees is walked at both its initial and
  *    final plan on every render, which grows exponentially with depth
  *    (a chain-20 graph once exhausted an 8 GiB driver that way).
  *  - A frame that one round references twice (a sum read by both a max
  *    and the main frame, an edge table read by an aggregate and a join
  *    back) is cut through [[Round.cut]]; unmaterialized, its producing
  *    join would run once per reference.
  *  - A scalar is read in the SAME job that cuts its frame: the
  *    aggregate rides on the frame as a `Dataset.observe` metric, which
  *    both the `localCheckpoint` and the parquet form of the cut fulfil.
  *    Only successful task attempts report their metric, so a retried
  *    task is not counted twice.
  *  - Every cut is released ([[Materialize.release]]) once a later state
  *    cut supersedes it, and whatever is left when the run ends is
  *    released unless the run's result still reads it. Local-checkpoint
  *    blocks would otherwise stay until the JVM collects the plan, and
  *    reliable-mode `mat-*` files until the application exits.
  *  - A convergent loop that is still changing after `maxIters` rounds
  *    throws: a partially propagated answer would be silently wrong.
  */
final class Fixpoint private (name: String) {
  import Fixpoint._

  // cuts made for the whole run (static sides, outputs); released at the end
  private val held = ListBuffer.empty[DataFrame]
  // round cuts and state cuts not yet superseded, with the round that made them
  private val live = ListBuffer.empty[(Int, DataFrame)]
  private var round = 0

  /** Rounds the last [[iterate]] ran. */
  def rounds: Int = round

  /** Cut `df` for the rest of the run: a static side every round reads,
    * or a result that must be flat. A state [[iterate]] already cut is
    * held as it is, not cut again. */
  def cut(df: DataFrame): DataFrame = {
    val own = live.indexWhere(_._2 eq df)
    val c = if (own >= 0) live.remove(own)._2 else Materialize(df)
    held += c
    c
  }

  /** Runs `step` from `init`. Without `until` it runs exactly `maxIters`
    * rounds; with it, the initial state and every round are cut with the
    * scalar observed, and the loop stops at the first round whose scalar
    * equals the previous one and whose `until.same` check holds. Returns
    * the last state (flat when its round was cut).
    */
  def iterate(init: DataFrame, maxIters: Int, until: Option[Until] = None)
             (step: (DataFrame, Round) => DataFrame): DataFrame = {
    round = 0
    // an init this loop cut is superseded by the first state cut
    val own = held.indexWhere(_ eq init)
    if (own >= 0) live += 0 -> held.remove(own)
    var (state, scalar) = until match {
      case Some(u) => track(init, Some(u.scalar))
      case None => (init, Row.empty)
    }
    var converged = false
    while (round < maxIters && !converged) {
      round += 1
      val next = step(state, new Round(round, this))
      until match {
        case Some(u) =>
          val (c, s) = track(next, Some(u.scalar))
          converged = s == scalar && u.same(state, c)
          scalar = s
          state = c
          supersede(state)
        case None if round % CutEvery == 0 =>
          // a step that already cut its own output is not cut again
          state = if (live.exists(_._2 eq next)) next else track(next, None)._1
          supersede(state)
        case None => state = next
      }
    }
    if (until.isDefined && !converged)
      throw new IllegalStateException(
        s"$name did not converge in $maxIters rounds; a partially " +
          "propagated result would be silently wrong")
    state
  }

  /** Cuts `df` as part of the current round, reading `metric` in the
    * same job. */
  private def track(df: DataFrame, metric: Option[Column]): (DataFrame, Row) = {
    val (c, r) = metric match {
      case None => (Materialize(df), Row.empty)
      case Some(m) =>
        val obs = Observation()
        val c = Materialize(df.observe(obs, m.as("scalar")))
        (c, Row(obs.get("scalar")))
    }
    live += round -> c
    (c, r)
  }

  /** Releases every live cut older than the current round that the new
    * flat `state` does not read. The current round's own cuts may still
    * back a frame the step handed outside the state (HITS' authorities),
    * so they wait for the next state cut. */
  private def supersede(state: DataFrame): Unit = {
    val reads = sources(state).toSet
    val (drop, keep) = live.partition { case (r, c) => r < round && unread(c, reads) }
    drop.foreach { case (_, c) => Materialize.release(c) }
    live.clear()
    live ++= keep
  }

  private def close(result: Any): Unit = {
    val reads = framesOf(result).flatMap(sources).toSet
    (held ++ live.map(_._2)).filter(unread(_, reads)).foreach(Materialize.release)
  }
}

object Fixpoint {

  /** The cut cadence for rounds that read no scalar. */
  private val CutEvery = 4

  /** A convergence test: `scalar` is an aggregate over a round's output,
    * read in the job that cuts it; `same(previous, next)` is an exact
    * check run only when the scalar did not change. */
  final case class Until(scalar: Column,
                         same: (DataFrame, DataFrame) => Boolean = (_, _) => true)

  /** What a step sees of its round. */
  final class Round private[Fixpoint] (val n: Int, loop: Fixpoint) {

    /** Cut a frame this round references more than once. */
    def cut(df: DataFrame): DataFrame = loop.track(df, None)._1

    /** Cut `df` and read the one-row aggregate `metric` over it in the
      * same job. */
    def read(df: DataFrame, metric: Column): Row = loop.track(df, Some(metric))._2
  }

  /** Runs `body` with a fresh loop named `name` (the name the
    * non-convergence error carries). When `body` returns or throws,
    * every cut it made is released except those the DataFrames in its
    * result (the result itself, or the fields of a tuple) still read.
    */
  def apply[T](name: String)(body: Fixpoint => T): T = {
    val loop = new Fixpoint(name)
    var result: Option[T] = None
    try {
      result = Some(body(loop))
      result.get
    } finally loop.close(result)
  }

  private def framesOf(result: Any): Seq[DataFrame] = result match {
    case ds: Dataset[_] => Seq(ds.toDF())
    case s: Iterable[_] => s.toSeq.flatMap(framesOf)
    case p: Product => p.productIterator.toSeq.flatMap(framesOf)
    case _ => Nil
  }

  /** The checkpoint RDDs and `mat-*` roots a frame reads. */
  private def sources(df: DataFrame): Seq[Any] = {
    import org.apache.spark.sql.execution.LogicalRDD
    df.queryExecution.analyzed.collect { case l: LogicalRDD => l.rdd.id } ++
      Materialize.materializedRoots(df)
  }

  private def unread(cut: DataFrame, reads: Set[Any]): Boolean =
    sources(cut).forall(!reads(_))
}
