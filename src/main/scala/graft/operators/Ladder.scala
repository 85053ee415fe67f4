package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** The one converge ladder. Every iterative operator (connected
  * components, KLL compaction, BPE training and the Lloyd ladders of
  * k-means, PQ training and the PQ refresh) climbs its rungs here, and
  * the ladder owns the rung policy:
  *
  *  - the rung counter and the rung limit;
  *  - the lineage-truncating checkpoint of rung state
  *    ([[Materialize.iteration]]) — a rung that reads the previous
  *    rung's state would otherwise re-expand the whole chain's plan at
  *    every reference;
  *  - the convergence test, and the `require` that names a ladder that
  *    hits its limit unconverged;
  *  - the per-rung report frames, unioned in rung order.
  *
  * A caller passes only its step, its census and its report.
  */
object Ladder {

  /** One Lloyd state: a codebook (or centroid table) and the assignment
    * of every vector to it.
    */
  final case class Lloyd(book: DataFrame, assign: DataFrame)

  /** A fixpoint ladder: rung t is `step(rung t-1)`, checkpointed, and its
    * census is read; the climb stops at the first rung whose census
    * equals the previous one, and fails naming `name` after `maxRungs`
    * rungs without one. A `None` census means the state has no rows,
    * which is its own fixpoint: such a seed returns without a rung.
    *
    * The seed is checkpointed like a rung, unless `persistSeed`: then it
    * is lazily persisted ([[Materialize.stable]]), for a corpus-sized
    * seed that a checkpoint would write whole, and the ladder releases
    * that persist once rung 1 holds the state — unless the seed came in
    * persisted, since that cache is the caller's.
    *
    * Returns the final state and its census.
    */
  def fixpoint[C](name: String, seed: DataFrame, maxRungs: Int, persistSeed: Boolean = false)(
      step: DataFrame => DataFrame)(census: DataFrame => Option[C]): (DataFrame, Option[C]) = {
    val ownsSeed = persistSeed && seed.storageLevel == StorageLevel.NONE
    val s0 = if (persistSeed) Materialize.stable(seed) else Materialize.iteration(seed)
    val c0 = census(s0)
    val states = climb((s0, c0), if (c0.isEmpty) 0 else maxRungs)(_._2 == _._2) { (t, prev) =>
      val next = Materialize.iteration(step(prev._1))
      if (t == 1 && ownsSeed) s0.unpersist()
      (next, census(next))
    }
    // settled: the last two censuses agree, or the empty seed stood alone
    require(states.takeRight(2).map(_._2).distinct.size == 1,
      s"$name: no fixpoint within $maxRungs rungs")
    states.last
  }

  /** A counted ladder: exactly `rungs` rungs from `seed`, every state
    * checkpointed, the seed too. `step(t, state)` returns the next state
    * and its report, which reads the checkpointed next state; the
    * reports come back in rung order.
    */
  def counted(seed: DataFrame, rungs: Int)(
      step: (Int, DataFrame) => (DataFrame, DataFrame => DataFrame)): DataFrame =
    inRungOrder(climb(Materialize.iteration(seed) -> Option.empty[DataFrame], rungs)(never) {
      (t, prev) =>
        val (next, report) = step(t, prev._1)
        val held = Materialize.iteration(next)
        (held, Some(report(held)))
    }.flatMap(_._2))

  /** A reported Lloyd ladder (k-means, PQ codebook training): the seed
    * book and its assignment, then `rungs` × (refine the book from the
    * assignment, assign to the new book). Every book and assignment is
    * checkpointed: each is read by the next rung and by a report.
    * `report(t, prev, next)` frames come back in rung order, then by
    * `thenBy`.
    */
  def lloyd(seedBook: DataFrame, rungs: Int, thenBy: String*)(
      refine: DataFrame => DataFrame, assignTo: DataFrame => DataFrame)(
      report: (Int, Lloyd, Lloyd) => DataFrame): DataFrame = {
    val book0 = Materialize.iteration(seedBook)
    val seed = Lloyd(book0, Materialize.iteration(assignTo(book0)))
    inRungOrder(climb(seed -> Option.empty[DataFrame], rungs)(never) { (t, prev) =>
      val book = Materialize.iteration(refine(prev._1.assign))
      val next = Lloyd(book, Materialize.iteration(assignTo(book)))
      (next, Some(report(t, prev._1, next)))
    }.flatMap(_._2), thenBy: _*)
  }

  /** An unreported Lloyd retrain (knn_ivf_pq_refresh's warm start) from
    * `book`: the same rung as [[lloyd]], but only the assignments read
    * twice are checkpointed — the seed's and the final rung's, which
    * the caller grades. The seed's and the final rung's books are read
    * twice too (their assignment and the caller's phase) and persist
    * ([[Materialize.stable]]); an intermediate book and assignment each
    * have a single reader, the next rung, so they flow into it.
    * Returns the seed state and the final state.
    */
  def retrain(book: DataFrame, rungs: Int)(
      refine: DataFrame => DataFrame, assignTo: DataFrame => DataFrame): (Lloyd, Lloyd) = {
    val book0 = Materialize.stable(book)
    val seed = Lloyd(book0, Materialize.iteration(assignTo(book0)))
    (seed, climb(seed, rungs)(never) { (t, prev) =>
      val book = if (t < rungs) refine(prev.assign) else Materialize.stable(refine(prev.assign))
      val assign = assignTo(book)
      Lloyd(book, if (t < rungs) assign else Materialize.iteration(assign))
    }.last)
  }

  /** The rung loop: rungs 1..`limit` from `seed`, stopping after the
    * first rung that is `settled` against its predecessor. Returns every
    * state, seed first.
    */
  private def climb[S](seed: S, limit: Int)(settled: (S, S) => Boolean)(
      rung: (Int, S) => S): Vector[S] =
    (1 to limit).foldLeft(Vector(seed)) { (states, t) =>
      val done = states.size > 1 && settled(states(states.size - 2), states.last)
      if (done) states else states :+ rung(t, states.last)
    }

  private def never[S](prev: S, next: S): Boolean = false

  /** Per-rung reports in rung order: each carries its rung in `iter`. */
  private def inRungOrder(reports: Seq[DataFrame], thenBy: String*): DataFrame =
    reports.reduce(_ union _).orderBy("iter", thenBy: _*)
}
