package graft

/** Smoke: every SparkEntry query runs against sf0.001 and returns rows;
  * every query with an oracle gives the same values on two runs. The
  * queries that read the reference checkout
  * ([[SparkEntry.referenceQueries]]) are checked by their own tests, which
  * are cancelled on a host that has no checkout configured. */
class EntrySpec extends SparkSpec {
  import EntrySpec._

  private val sf = "/root/testdata/sf0.001"

  private def attempt[A](body: => A): Either[Throwable, A] =
    try Right(body) catch { case e: Throwable => Left(e) }

  /** A query's values, columns sorted by name and rows sorted: the form the
    * driver hash-compares. */
  private def values(name: String): Values = {
    val df = SparkEntry.queries(name)(spark, sf)
    val cols = df.columns.sorted.toIndexedSeq
    df.collect().map(r => cols.map(c =>
      String.valueOf(r.get(r.fieldIndex(c))))).toSeq.sortBy(_.mkString(""))
  }

  /** One pass over a set of queries in name order, shared by the "runs" and
    * the determinism test: each oracle-gated query is collected twice (the
    * first collect also gives its row count), every other query is counted
    * once. Errors are kept per query, so one that throws hides none sorted
    * after it. */
  private def sweep(names: Set[String]): Seq[(String, Runs)] =
    names.toSeq.sorted.map { name =>
      val runs =
        if (SparkEntry.oracleSql.contains(name)) {
          val first = attempt(values(name))
          Runs(first.map(_.size.toLong), Some((first, attempt(values(name)))))
        } else Runs(attempt(SparkEntry.queries(name)(spark, sf).count()), None)
      name -> runs
    }

  private lazy val localSweep =
    sweep(SparkEntry.queries.keySet -- SparkEntry.referenceQueries)
  private lazy val referenceSweep = sweep(SparkEntry.referenceQueries)

  private def runFailures(sweep: Seq[(String, Runs)]): Seq[String] =
    sweep.flatMap {
      case (name, Runs(Left(e), _)) => Some(s"$name: ${e.getMessage}")
      case (name, Runs(Right(0L), _)) if name != "v2_missing_parents" =>
        Some(s"$name: 0 rows")
      case _ => None
    }

  /** The gated queries of a sweep that threw in either run, and those whose
    * two runs gave different values. */
  private def nondeterminism(sweep: Seq[(String, Runs)]): (Seq[String], Seq[String]) = {
    val twice = sweep.collect { case (name, Runs(_, Some(pair))) => name -> pair }
    val errors = twice.collect {
      case (name, (Left(e), _)) => s"$name: ${e.getMessage}"
      case (name, (_, Left(e))) => s"$name (second run): ${e.getMessage}"
    }
    val flaky = twice.collect {
      case (name, (Right(a), Right(b))) if a != b => name
    }
    (errors, flaky)
  }

  /** The reference queries need the reference checkout. Cancel their tests
    * only where none is configured; once GRAFT_REFERENCE_DIR is set or the
    * default directory exists, a missing artifact fails them. */
  private def assumeReferenceCheckout(): Unit =
    // cancel rather than assume(...): assume's message would print the
    // whole environment map of the failed sys.env.contains
    if (!sys.env.contains("GRAFT_REFERENCE_DIR") &&
        !new java.io.File(SparkEntry.referenceDir).exists)
      cancel(s"no reference checkout at ${SparkEntry.referenceDir}: " +
        SparkEntry.referenceQueries.toSeq.sorted.mkString(", ") +
        " read it; set GRAFT_REFERENCE_DIR to its root to run them")

  test("events table loads despite TIMESTAMP(NANOS) and has a timestamp ts") {
    val df = Tables.load(spark, sf, "events")
    assert(df.schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
    assert(df.count() > 0)
  }

  test("normalizeTs: all three physical ts encodings converge to identical micros") {
    // the round-9 regression class: the driver regenerates testdata and the
    // parquet physical type of events.ts changes under the code. Whatever
    // encoding arrives - epoch-nanos long, TIMESTAMP_NTZ, or TimestampType -
    // normalizeTs must yield the SAME TimestampType micros (UTC session tz).
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // values stay inside the nanos-representable window (|us| < 2^63/1000,
    // i.e. +/-292 years of 1970) - the long-nanos ENCODING itself cannot
    // carry dates outside it, so wider values are not a convergence case
    val micros = Seq(0L, 1L, 1700000000000000L, -9000000000000000L,
      9000000000000000L, 1234567890123456L)
    val asNanos = micros.map(_ * 1000L).toDF("ts")
    val asNtz = micros.toDF("us")
      .select(expr("timestamp_micros(us)").cast("timestamp_ntz").as("ts"))
    val asLtz = micros.toDF("us").select(expr("timestamp_micros(us)").as("ts"))
    val out = Seq(asNanos, asNtz, asLtz).map { df =>
      val n = Tables.normalizeTs(df)
      assert(n.schema("ts").dataType ==
        org.apache.spark.sql.types.TimestampType)
      n.select(unix_micros(col("ts"))).as[Long].collect().toSeq
    }
    assert(out(0) == micros && out(1) == micros && out(2) == micros,
      s"encodings diverged: nanos=${out(0)} ntz=${out(1)} ltz=${out(2)}")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs and returns rows on sf0.001") {
    val failures = runFailures(localSweep)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("every reference-checkout query runs and returns rows on sf0.001") {
    assumeReferenceCheckout()
    val failures = runFailures(referenceSweep)
    assert(failures.isEmpty, failures.mkString("; "))
  }

  test("oracle keys are a subset of query keys") {
    val extra = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(extra.isEmpty, s"oracle without query: $extra")
  }

  test("every oracle-gated query is run-to-run deterministic (value sets)") {
    // the driver hash-compares values: any nondeterministic retention,
    // tie-break, or float rendering would flake the gate. s4 writes fresh
    // temp dirs per invocation but must yield identical values.
    val (errors, flaky) = nondeterminism(localSweep)
    assert(errors.isEmpty, errors.mkString("; "))
    assert(flaky.isEmpty, s"nondeterministic queries: $flaky")
  }

  test("every reference-checkout query is run-to-run deterministic (value sets)") {
    assumeReferenceCheckout()
    val (errors, flaky) = nondeterminism(referenceSweep)
    assert(errors.isEmpty, errors.mkString("; "))
    assert(flaky.isEmpty, s"nondeterministic queries: $flaky")
  }

  test("the reference-checkout queries are declared queries with oracles") {
    // a renamed query must not silently drop out of both sweeps
    val ref = SparkEntry.referenceQueries
    assert((ref -- SparkEntry.queries.keySet).isEmpty &&
      (ref -- SparkEntry.oracleSql.keySet).isEmpty,
      s"undeclared reference queries: ${ref -- SparkEntry.queries.keySet} " +
        s"(no query), ${ref -- SparkEntry.oracleSql.keySet} (no oracle)")
  }

  test("query id prefixes are unique (the bench abbrev tier depends on it)") {
    // at 88+ queries Bench keys the JSON by the segment before the first
    // '_'; a collision silently disables abbreviation and the render can
    // overflow the driver's 2000-char stdout window
    val prefixes = SparkEntry.queries.keySet.toSeq.map(n => n.takeWhile(_ != '_'))
    val dupes = prefixes.groupBy(identity).filter(_._2.size > 1).keys
    assert(dupes.isEmpty, s"colliding query id prefixes: ${dupes.mkString(", ")}")
  }
}

object EntrySpec {
  type Values = Seq[Seq[String]]

  /** One query's runs in a sweep: the first run (its row count, or what it
    * threw) and, for an oracle-gated query, the value sets of two
    * independent runs. */
  final case class Runs(rows: Either[Throwable, Long],
      twice: Option[(Either[Throwable, Values], Either[Throwable, Values])])
}
