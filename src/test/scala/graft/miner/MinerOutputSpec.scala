package graft.miner

import graft.SparkSuite
import org.apache.spark.sql.DataFrame

import scala.util.{Random, Try}

class MinerOutputSpec extends SparkSuite {
  import spark.implicits._

  /** Every miner entry point, with fixed parameters (support values do not
    * follow the input size, so the blank lines added by [[noisy]] cannot move
    * a threshold).
    */
  private val entries: Seq[(String, DataFrame => DataFrame)] = Seq(
    "iplom" -> (df => graft.iplom.Iplom.mineCatalog(df, "line")),
    "slct" -> (df => graft.slct.Slct.mineCatalog(df, "line", support = 10)),
    "ael" -> (df => graft.ael.Ael.mineCatalog(df, "line")),
    "logcluster" -> (df => graft.logcluster.LogCluster.mineCatalog(df, "line", support = 10)),
    "logmine" -> (df => graft.logmine.LogMine.mineCatalog(df, "line", maxDist = 0.34)),
    "logmine_xlen" -> (df => graft.logmine.LogMine.mineCatalogXLen(df, "line", maxDist = 0.34)),
    "logram" -> (df => graft.logram.Logram.mineCatalog(df, "line", support = 5)),
    "brain" -> (df => graft.brain.Brain.mineCatalog(df, "line")),
    "ulp" -> (df => graft.ulp.Ulp.mineCatalog(df, "line")),
    "lfa" -> (df => graft.lfa.Lfa.mineCatalog(df, "line")),
    "lenma" -> (df => graft.lenma.LenMa.mineCatalog(df, "line")),
    "lenma_sim" -> (df => graft.lenma.LenMa.mineCatalogSim(df, "line", sim = 0.98)),
    "shiso" -> (df => graft.shiso.Shiso.mineCatalog(df, "line")),
    "lke" -> (df => graft.lke.Lke.mineCatalog(df, "line")),
    "logsig" -> (df => graft.logsig.LogSig.mineCatalog(df, "line")),
    "molfi" -> (df => graft.molfi.Molfi.mineCatalog(df, "line")))

  /** Single-space lines: several event types, two token counts per family (for
    * the cross-length miner), digits and `key=value` tokens (for AEL and ULP).
    */
  private val clean: Seq[String] =
    Seq.tabulate(30)(i => s"login user$i ok") ++
      Seq.tabulate(20)(i => s"logout user$i ok") ++
      Seq.tabulate(6)(i => s"logout user$i ok again") ++
      Seq.tabulate(12)(i => s"send id=$i to host${i % 3} done") ++
      Seq.tabulate(8)(i => s"disk sda${i % 2} full at ${90 + i} pct")

  /** `lines` with seeded whitespace noise: leading and trailing tabs, CR and
    * spaces, mixed whitespace runs between tokens, plus blank and
    * whitespace-only lines. A whitespace tokenizer sees the same tokens.
    */
  private def noisy(lines: Seq[String], seed: Long): Seq[String] = {
    val rnd = new Random(seed)
    def pick(xs: Seq[String]) = xs(rnd.nextInt(xs.size))
    val edges = Seq("", " ", "\t", "\r", " \t", "\t\r ", "  ")
    val gaps = Seq(" ", "  ", "\t", " \t ", "\t\t", " \r ")
    val blanks = Seq("", " ", "\t", "\r", " \t \r", "\t\t", "  ")
    val scrambled = lines.map { l =>
      pick(edges) + l.split(" ").reduce(_ + pick(gaps) + _) + pick(edges)
    }
    rnd.shuffle(scrambled ++ blanks ++ blanks)
  }

  private def show(s: String) = s.replace("\t", "\\t").replace("\r", "\\r")

  test("miner grouping is identical across partitionings (end-to-end)") {
    // Per miner: the catalog does not depend on the partitioning of the input,
    // and (at the same partitioning) not on the whitespace around and between
    // tokens, nor on blank lines.
    def mined(mine: DataFrame => DataFrame, lines: Seq[String], parts: Option[Int]) = {
      val df = lines.toDF("line")
      mine(parts.fold(df)(df.repartition)).as[(String, String, Long)].collect().toSet
    }
    val dirty = noisy(clean, seed = 7L)
    assert(dirty.exists(_.startsWith("\t")) && dirty.exists(_.endsWith("\r")) &&
      dirty.exists(_.trim.isEmpty))
    val failures = entries.flatMap { case (name, mine) =>
      val base = mined(mine, clean, None)
      val repart = mined(mine, clean, Some(9))
      val ws = Try(mined(mine, dirty, Some(9)))
      Seq(
        if (base.isEmpty) Some(s"$name: empty catalog") else None,
        if (repart != base) Some(s"$name: partitioning changed the catalog") else None,
        ws.fold(e => Some(s"$name: noisy input threw ${e.getClass.getSimpleName}"),
          m => if (m != repart) Some(s"$name: whitespace changed the catalog " +
            s"(${(m -- repart).map(t => show(t._2)).mkString("[", " | ", "]")})") else None)
      ).flatten
    }
    assert(failures.isEmpty, failures.mkString("\n", "\n", ""))
  }

  test("two distinct patterns under one pid fail the pid-keyed mine, naming both") {
    val shared = Seq((42L, "conn a ok"), (42L, "conn b ok"), (7L, "drop x err"))
      .toDF("pid", "p")
    val ex = intercept[IllegalStateException](MinerOutput.requireDistinctPids(shared))
    assert(ex.getMessage.contains("\"conn a ok\"") && ex.getMessage.contains("\"conn b ok\""),
      ex.getMessage)
    assert(!ex.getMessage.contains("drop x err"), ex.getMessage)
    // one row per pid passes
    MinerOutput.requireDistinctPids(shared.filter($"p" =!= "conn b ok"))
  }
}
