package graft.molfi

import graft.miner.MinerOutput
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.util.Random

/** MoLFI-style search-based miner (Messaoudi, Panichella, Bianculli, Briand &
  * Sabetzadeh, "A Search-based Approach for Accurate Identification of Log
  * Message Formats", ICPC'18; the reference ships it as
  * `logparser/MoLFI/MoLFI.py` — upstream-from-memory cite, SURVEY §0.1).
  *
  * Core idea: per token-length group, search the space of template sets with
  * NSGA-II under two competing objectives — FREQUENCY (each template should
  * match many messages) and SPECIFICITY (each template should have few
  * wildcards) — and return the knee solution of the final Pareto front.
  *
  * Re-expression here (documented deviations, all determinism-motivated):
  *  - A chromosome is a PARTITION of the group's distinct messages; each
  *    cluster's template is the positionwise agreement (constant iff all
  *    members share the token, else `<*>`), so every message matches its own
  *    template by construction — upstream's repair/dedup post-processing
  *    becomes unnecessary. Objectives are the paper's, averaged per template:
  *    specificity = mean constant-token fraction, frequency = mean matched
  *    fraction.
  *  - Genetic operators: uniform partition-mixing crossover (a child cluster is
  *    a maximal set of messages that shared a cluster in the CHOSEN parent),
  *    split-by-position / merge-clusters mutation, binary tournament on
  *    (rank, crowding), (μ+λ) elitism — standard NSGA-II machinery with fast
  *    non-dominated sort and crowding distance.
  *  - DETERMINISM: upstream seeds a global RNG (scan-order dependent); here the
  *    RNG seed is derived from the token length only, messages are processed in
  *    sorted order, and partitions are kept in canonical first-occurrence
  *    labeling — the same input multiset yields the same catalog at any
  *    partitioning of the input frame.
  *  - Knee selection: the front solution maximizing specificity × frequency
  *    (ties → higher specificity, then canonical label order) stands in for
  *    upstream's closest-to-ideal-point compromise.
  *
  * Scale shape: the corpus-wide phases are groupBy shuffles (level-0 dedup,
  * per-length grouping, final template merge); the genetic search itself runs
  * independently per length group inside `flatMapGroups` — distributed across
  * groups, sequential within one (the reference is sequential across the whole
  * corpus). Like [[graft.lke.Lke]], a group larger than `maxGroup` distinct
  * messages fail-stops rather than degrading silently: MoLFI is a
  * correctness-gated miner for bounded template universes; at 100 TB it runs on
  * the bounded mine sample like the pipeline's Drain phase.
  */
object Molfi {

  private val Wildcard = "<*>"

  /** Mine the template catalog: (event_id, event_template, occurrences). */
  def mineCatalog(lines: DataFrame, lineCol: String, pop: Int = 16,
                  gens: Int = 20, maxGroup: Int = 2000): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    val templates = MinerOutput.distinctLines(lines, lineCol)
      .select("p", "cnt", "toks").as[(String, Long, Seq[String])]
      .groupByKey(_._3.length)
      .flatMapGroups { (len, it) =>
        val msgs = it.toVector.sortBy(_._1)
          .map { case (_, w, toks) => (toks.toVector, w) }
        require(msgs.size <= maxGroup,
          s"Molfi.mineCatalog: length group $len has ${msgs.size} distinct " +
            s"messages > maxGroup=$maxGroup; sample or raise the cap explicitly")
        search(len, msgs, pop, gens).iterator
      }
      .toDF("event_template", "occurrences")
      .groupBy("event_template").agg(sum("occurrences").as("occurrences"))
    MinerOutput.withEventId(templates)
  }

  // ---- per-length-group NSGA-II (sequential by design; see scaladoc) --------

  /** `feasible` = no cluster degenerated to an all-wildcard template — the
    * paper's template-validity rule (every template keeps ≥1 constant token);
    * without it the knee collapses into one catch-all `<*> …` cluster plus a
    * few exact singletons, which scores high on both objectives while parsing
    * nothing (observed on the events corpus before this rule was added).
    */
  private case class Ind(assign: Vector[Int], spec: Double, freq: Double,
                         feasible: Boolean) {
    var rank: Int = 0
    var crowd: Double = 0.0
  }

  /** Canonical first-occurrence relabeling: identical partitions get identical
    * vectors regardless of how their labels were produced.
    */
  private def canonical(assign: Vector[Int]): Vector[Int] = {
    val seen = scala.collection.mutable.HashMap[Int, Int]()
    assign.map(l => seen.getOrElseUpdate(l, seen.size))
  }

  private def template(msgs: Vector[(Vector[String], Long)], members: Seq[Int]): Vector[String] = {
    val first = msgs(members.head)._1
    first.indices.toVector.map { i =>
      if (members.forall(m => msgs(m)._1(i) == first(i))) first(i) else Wildcard
    }
  }

  private def evaluate(msgs: Vector[(Vector[String], Long)], raw: Vector[Int]): Ind = {
    val assign = canonical(raw)
    val clusters = assign.indices.groupBy(assign).toVector.sortBy(_._1)
    val totalW = msgs.map(_._2).sum.toDouble
    val len = msgs.head._1.size.toDouble
    var spec = 0.0
    var freq = 0.0
    var feasible = true
    clusters.foreach { case (_, members) =>
      val t = template(msgs, members)
      if (!t.exists(_ != Wildcard)) feasible = false
      spec += t.count(_ != Wildcard) / len
      freq += members.map(msgs(_)._2).sum / totalW
    }
    Ind(assign, spec / clusters.size, freq / clusters.size, feasible)
  }

  /** Fast non-dominated sort + crowding distance (maximizing both objectives). */
  private def rankPopulation(inds: Vector[Ind]): Unit = {
    // constraint domination (Deb): feasible beats infeasible outright
    def dominates(a: Ind, b: Ind): Boolean =
      (a.feasible && !b.feasible) ||
        (a.feasible == b.feasible &&
          a.spec >= b.spec && a.freq >= b.freq && (a.spec > b.spec || a.freq > b.freq))
    inds.foreach { i => i.rank = 0; i.crowd = 0.0 } // instances are re-ranked across generations
    var remaining = inds
    var r = 0
    while (remaining.nonEmpty) {
      val front = remaining.filter(i => !remaining.exists(j => dominates(j, i)))
      front.foreach(_.rank = r)
      // crowding on each objective; boundary solutions get +inf
      for (obj <- Seq[Ind => Double](_.spec, _.freq)) {
        val sorted = front.sortBy(obj)
        if (sorted.size > 1) {
          sorted.head.crowd = Double.PositiveInfinity
          sorted.last.crowd = Double.PositiveInfinity
          val span = math.max(obj(sorted.last) - obj(sorted.head), 1e-12)
          for (i <- 1 until sorted.size - 1)
            sorted(i).crowd += (obj(sorted(i + 1)) - obj(sorted(i - 1))) / span
        } else sorted.foreach(_.crowd = Double.PositiveInfinity)
      }
      remaining = remaining.filterNot(front.contains)
      r += 1
    }
  }

  private def search(len: Int, msgs: Vector[(Vector[String], Long)],
                     pop: Int, gens: Int): Seq[(String, Long)] = {
    val n = msgs.size
    if (n == 1) {
      val (toks, w) = msgs.head
      return Seq((toks.mkString(" "), w))
    }
    val rnd = new Random(0x6d6f6c6669L ^ len.toLong)
    val nPos = msgs.head._1.size

    // seed population with position-projection partitions (group messages by
    // their tokens at a random position subset) plus the two extremes
    def projection(positions: Set[Int]): Vector[Int] = {
      val keys = msgs.map(m => positions.toVector.sorted.map(m._1(_)).mkString(""))
      val ids = keys.distinct.zipWithIndex.toMap
      canonical(keys.map(ids))
    }
    val seeds = Vector(projection(Set.empty), projection((0 until nPos).toSet)) ++
      Vector.fill(math.max(pop - 2, 0))(
        projection((0 until nPos).filter(_ => rnd.nextBoolean()).toSet))
    // dedup by partition: duplicate Inds are case-class-equal and would confuse
    // the front bookkeeping in rankPopulation
    var current = seeds.map(canonical).distinct.map(evaluate(msgs, _))

    def tournament(): Ind = {
      val a = current(rnd.nextInt(current.size))
      val b = current(rnd.nextInt(current.size))
      if (a.rank < b.rank || (a.rank == b.rank && a.crowd > b.crowd)) a else b
    }
    def crossover(a: Ind, b: Ind): Vector[Int] = {
      // per-message parent choice; cluster identity = (parent, parent label)
      val pick = msgs.indices.map(_ => rnd.nextBoolean())
      canonical(msgs.indices.toVector.map(i =>
        if (pick(i)) a.assign(i) * 2 else b.assign(i) * 2 + 1))
    }
    def mutate(raw: Vector[Int]): Vector[Int] = {
      val assign = canonical(raw)
      val k = assign.max + 1
      if (rnd.nextBoolean() && k >= 2) {
        // merge two random clusters
        val c1 = rnd.nextInt(k); val c2 = rnd.nextInt(k)
        canonical(assign.map(l => if (l == c2) c1 else l))
      } else {
        // split a random cluster by a random disagreeing position
        val c = rnd.nextInt(k)
        val members = assign.indices.filter(assign(_) == c)
        val pos = rnd.nextInt(nPos)
        val values = members.map(m => msgs(m)._1(pos)).distinct
        if (values.size < 2) assign
        else {
          val ids = values.zipWithIndex.toMap
          canonical(assign.indices.toVector.map(i =>
            if (assign(i) == c) k + ids(msgs(i)._1(pos)) else assign(i)))
        }
      }
    }

    rankPopulation(current)
    for (_ <- 0 until gens) {
      val offspring = Vector.fill(pop) {
        var child = crossover(tournament(), tournament())
        if (rnd.nextDouble() < 0.5) child = mutate(child)
        evaluate(msgs, child)
      }
      // (μ+λ) elitism with partition-level dedup to keep the front diverse
      val combined = (current ++ offspring)
        .groupBy(_.assign).map(_._2.head).toVector
      rankPopulation(combined)
      current = combined.sortBy(i => (i.rank, -i.crowd, i.assign.mkString(",")))
        .take(pop)
      rankPopulation(current)
    }

    // knee: maximize spec × freq on the first (feasible-dominant) front;
    // deterministic ties
    val front = current.filter(_.rank == 0)
    val best = front.maxBy(i => (i.spec * i.freq, i.spec,
      i.assign.mkString(","))) (Ordering.Tuple3(Ordering.Double.TotalOrdering,
      Ordering.Double.TotalOrdering, Ordering.String.reverse))
    best.assign.indices.groupBy(best.assign).toVector.sortBy(_._1)
      .map { case (_, members) =>
        (template(msgs, members).mkString(" "), members.map(msgs(_)._2).sum)
      }
  }
}
