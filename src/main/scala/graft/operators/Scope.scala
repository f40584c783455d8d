package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Comparison-scope modes — the web analog of the reference's
  * folder-comparison modes (`ViewModels/MainViewModel.cs:43-59`, predicate
  * application `:720-749`, scoped singleton marking `:616-688`):
  *
  *   reference                  web analog
  *   ---------                  ----------
  *   folder (dirname)           url directory (host + path prefix)
  *   user folder (source root)  url host
  *
  * Equality scopes (SameDir / SameHost) fold into the blocking key — a
  * composite groupBy instead of a pair predicate, so Catalyst plans one
  * shuffle and no post-filter. Inequality scopes (DifferentDir /
  * DifferentHost) cluster by similarity alone and dissolve clusters that
  * never leave one scope value at decide time.
  */
object Scope {

  sealed trait Mode { def name: String }
  case object All extends Mode { val name = "all" }
  case object SameDir extends Mode { val name = "same_dir" }
  case object SameHost extends Mode { val name = "same_host" }
  case object DifferentDir extends Mode { val name = "different_dir" }
  case object DifferentHost extends Mode { val name = "different_host" }

  def parse(s: String): Mode = s match {
    case "all" => All
    case "same_dir" => SameDir
    case "same_host" => SameHost
    case "different_dir" => DifferentDir
    case "different_host" => DifferentHost
    case other => throw new IllegalArgumentException(s"unknown scope mode: $other")
  }

  /** url host — `GetUserFolder` analog (`MainViewModel.cs:522-527`). */
  def host(url: Column): Column = regexp_extract(url, "^[a-z]+://([^/]+)", 1)

  /** url directory — `GetFolder` analog (`MainViewModel.cs:517-520`). */
  def dir(url: Column): Column = regexp_extract(url, "^(.*)/[^/]*$", 1)

  def withScopeCols(docs: DataFrame): DataFrame = docs
    .withColumn("host", host(col("url")))
    .withColumn("dir", dir(col("url")))

  /** Scoped singleton short-circuit (`MainViewModel.cs:616-688`): given a
    * blocking column, mark docs that cannot have a duplicate under the mode
    * — blocks of size 1, same-scope blocks spanning one scope value for the
    * Different* modes, or per-(block, scope) singletons for Same* modes. */
  def singletonUnique(docs: DataFrame, block: Column, mode: Mode): DataFrame = {
    val grouped = mode match {
      case All =>
        docs.groupBy(block.as("b")).agg(count(lit(1)).as("n"))
          .where(col("n") === 1).select(col("b"))
      case SameDir =>
        docs.groupBy(block.as("b"), dir(col("url")).as("s")).agg(count(lit(1)).as("n"))
          .where(col("n") === 1).select(xxhash64(col("b"), col("s")).as("b"))
      case SameHost =>
        docs.groupBy(block.as("b"), host(col("url")).as("s")).agg(count(lit(1)).as("n"))
          .where(col("n") === 1).select(xxhash64(col("b"), col("s")).as("b"))
      case DifferentDir =>
        docs.groupBy(block.as("b")).agg(countDistinct(dir(col("url"))).as("n"))
          .where(col("n") === 1).select(col("b"))
      case DifferentHost =>
        docs.groupBy(block.as("b")).agg(countDistinct(host(col("url"))).as("n"))
          .where(col("n") === 1).select(col("b"))
    }
    val key = mode match {
      case SameDir => xxhash64(block, dir(col("url")))
      case SameHost => xxhash64(block, host(col("url")))
      case _ => block
    }
    docs.join(grouped.withColumnRenamed("b", "__ub"), key === col("__ub"), "left")
      .withColumn("scope_unique", col("__ub").isNotNull)
      .drop("__ub")
  }
}
