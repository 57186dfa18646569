package graft

import scala.jdk.CollectionConverters._

/** Driver-contract guard: the shapes the harness relies on.
  *  - `entry` returns rows at sf0.001 (t1 smoke);
  *  - every `oracleSql` key has a matching query;
  *  - every registered query executes and returns rows at sf0.001;
  *  - per-session state lives only in `graft.core.SessionScope`, and
  *    per-call persists go through its `cache` (no cleanup handles);
  *  - the runner mains share one session builder and CPU clock
  *    (`graft.Runner`).
  */
class ContractSpec extends SparkSuite {

  private val sf = "/root/testdata/sf0.001"

  test("entry smoke: flagship query returns rows at sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a query; names are well-formed") {
    val qs = SparkEntry.queries.keySet
    val missing = SparkEntry.oracleSql.keySet.diff(qs)
    assert(missing.isEmpty, s"oracleSql without queries: $missing")
    qs.foreach(n => assert(n.matches("[a-z][a-z0-9_]+"), s"bad name $n"))
  }

  test("QUERIES.md stays in sync: header count and one row per query") {
    val lines = scala.util.Using.resource(
      scala.io.Source.fromFile("QUERIES.md", "UTF-8"))(_.getLines().toList)
    val header = lines.head
    val counts = "\\((\\d+) = (\\d+) oracle-checked \\+ (\\d+) rows-only\\)".r
    val m = counts.findFirstMatchIn(header)
      .getOrElse(fail(s"QUERIES.md header lost its count: $header"))
    assert(m.group(1).toInt == SparkEntry.queries.size,
      s"header says ${m.group(1)} queries; SparkEntry has ${SparkEntry.queries.size}")
    assert(m.group(2).toInt == SparkEntry.oracleSql.size,
      s"header says ${m.group(2)} oracle-checked; oracleSql has ${SparkEntry.oracleSql.size}")
    assert(m.group(3).toInt == SparkEntry.queries.size - SparkEntry.oracleSql.size)
    val documented = lines.collect {
      case l if l.startsWith("| ") => l.drop(2).takeWhile(_ != ' ').trim
    }.filter(_.matches("[a-z][a-z0-9_]+")).toSet
    val undocd = SparkEntry.queries.keySet.diff(documented)
    assert(undocd.isEmpty, s"queries missing from QUERIES.md: $undocd")
    // and the reverse: a documented row for a deleted/renamed query is stale
    val ghost = documented.diff(SparkEntry.queries.keySet)
    assert(ghost.isEmpty, s"QUERIES.md rows without a query: $ghost")
    // section headers carry each family's id range — pin the upper bound
    // to the catalog (headers went stale across four families by r16)
    val maxByPrefix = SparkEntry.queries.keySet.groupBy(_.take(1))
      .map { case (p, names) =>
        p -> names.map(_.drop(1).takeWhile(_.isDigit).toInt).max }
    val hdr = "\\(([a-z])\\d+–([a-z])(\\d+)\\)".r
    lines.filter(_.startsWith("## ")).foreach { h =>
      hdr.findFirstMatchIn(h).foreach { m =>
        val (p, p2, hi) = (m.group(1), m.group(2), m.group(3).toInt)
        // a range like '(q01–t45)' would otherwise check q's max against
        // t's header bound (r16 ADVICE)
        assert(p == p2,
          s"header '$h' spans two families ($p vs $p2) — ranges are " +
            "per-family")
        val catalogMax = maxByPrefix.get(p)
        assert(catalogMax.isDefined,
          s"header '$h' names family '$p' but the catalog has no " +
            s"'$p'-prefixed queries")
        assert(catalogMax.contains(hi),
          s"header '$h' says $p-family tops out at $hi; catalog max is ${catalogMax.get}")
      }
    }
  }

  test("README.md stays in sync: relational and total query counts") {
    // The README's prose counts have gone stale twice (r13 "54", r15 "55");
    // pin them to SparkEntry the way QUERIES.md's header is pinned above.
    val readme = scala.util.Using.resource(
      scala.io.Source.fromFile("README.md", "UTF-8"))(_.mkString)
    val relational = SparkEntry.queries.keySet.count(_.matches("q\\d+.*"))
    val relSentence = "(\\d+) relational queries".r
    val rel = relSentence.findFirstMatchIn(readme)
      .getOrElse(fail("README lost its 'N relational queries' sentence"))
    assert(rel.group(1).toInt == relational,
      s"README says ${rel.group(1)} relational queries; SparkEntry has $relational")
    val totalSentence = "(\\d+)-query catalog".r
    val tot = totalSentence.findFirstMatchIn(readme)
      .getOrElse(fail("README lost its 'N-query catalog' sentence"))
    assert(tot.group(1).toInt == SparkEntry.queries.size,
      s"README says ${tot.group(1)}-query catalog; SparkEntry has ${SparkEntry.queries.size}")
  }

  test("every registered query executes and returns rows at sf0.001") {
    val empty = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val n = fn(spark, sf).count()
      if (n == 0) Some(name) else None
    }
    assert(empty.isEmpty, s"queries with zero rows at sf0.001: $empty")
  }

  /** Every main source file as (path, text), for the one-owner guards. */
  private lazy val mainSources: List[(String, String)] = scala.util.Using.resource(
      java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))) {
    _.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
  }.map(f => f.toString -> new String(java.nio.file.Files.readAllBytes(f), "UTF-8"))

  test("session state has one owner: only SessionScope keys maps by session or hooks context end") {
    // a second session-keyed map means a second lifecycle to evict and a
    // second listener pinning sessions until the context stops
    val owner = "graft/core/SessionScope.scala"
    val sessionKeyed = "Map\\[\\s*\\(?\\s*SparkSession\\b".r
    val offenders = mainSources.filterNot(_._1.endsWith(owner)).flatMap { case (f, src) =>
      (if (sessionKeyed.findFirstIn(src).isDefined) Seq(s"$f: map keyed by SparkSession") else Nil) ++
        (if (src.contains("onApplicationEnd")) Seq(s"$f: onApplicationEnd listener") else Nil)
    }
    assert(offenders.isEmpty,
      s"per-session state belongs in $owner: ${offenders.mkString("; ")}")
  }

  test("per-call persists have one owner: no main source returns a (DataFrame, () => Unit) cleanup handle") {
    // a frame persisted per call is SessionScope.cache'd and released by
    // the runner's drain; a returned handle is a second way to release it
    val handle = "\\(\\s*DataFrame\\s*,\\s*\\(\\)\\s*=>\\s*Unit\\s*\\)".r
    val offenders = mainSources.collect {
      case (f, src) if handle.findFirstIn(src).isDefined => f
    }
    assert(offenders.isEmpty,
      s"cache per-call persists with SessionScope.cache instead: ${offenders.mkString("; ")}")
  }

  test("runners share one core: only graft/Runner.scala builds a session or defines cpuNanos") {
    // a main with its own session or CPU clock drifts from the records it
    // replays (time zone, core count, warm-up); comment lines don't count
    val owner = "graft/Runner.scala"
    val code = mainSources.map { case (f, src) =>
      f -> src.linesIterator.filterNot(l => Seq("//", "*", "/*").exists(l.trim.startsWith)).toList
    }
    def hits(token: String) =
      code.flatMap { case (f, lines) => lines.filter(_.contains(token)).map(_ => f) }
    val builders = hits("SparkSession.builder()")
    val clocks = hits("def cpuNanos")
    assert(builders.size == 1 && builders.forall(_.endsWith(owner)),
      s"SparkSession.builder() belongs only in $owner: ${builders.mkString("; ")}")
    assert(clocks.size == 1 && clocks.forall(_.endsWith(owner)),
      s"one def cpuNanos, in $owner: ${clocks.mkString("; ")}")
  }
}
