package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How the correctness run checks a [[Case]]. */
sealed trait Check

object Check {
  /** Hash-compared against DuckDB running `sql` over the same tables. */
  final case class Oracle(sql: String) extends Check

  /** No SQL mirror: `Verify` dumps the result and the correctness gate
    * checks only its row count; `RowsOnlyPinSpec` pins its content. */
  case object RowsOnly extends Check

  /** Bench-only: timed by `Bench`, never dumped by `Verify`; ScalaTest
    * specs cover its correctness. */
  case object TimedOnly extends Check
}

/** One named query of the query contract (SURVEY.md §2.7): how to build
  * it over a testdata directory and how its result is checked. */
final case class Case(name: String, check: Check)(
    val build: (SparkSession, String) => DataFrame)

object Case {
  /** `cases` as given, after checking that no two share a name — a
    * duplicate would otherwise shadow its twin wherever cases are looked
    * up by name. */
  def unique(cases: Seq[Case]): Seq[Case] = {
    val dups = cases.groupBy(_.name).collect { case (n, cs) if cs.size > 1 => n }
    require(dups.isEmpty, s"duplicate case names: ${dups.toSeq.sorted.mkString(", ")}")
    cases
  }
}
