package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, MapType}

/** Force FULL materialization of a query result (every row, every column)
  * and reduce it to a tiny checksum row.
  *
  * `df.count()` is NOT a materialization action: Catalyst prunes every
  * column the count doesn't need — per-row computed columns vanish from
  * scan-shaped queries (`q_quality_classifier` "benched" 0.28 s where its
  * true cost is 9.4 s at sf10), and even aggregate-shaped queries lose
  * their aggregate expressions (count over `groupBy(k).agg(sum(x))`
  * optimizes to a distinct-count of k — verified on the optimized plan).
  * Folding all columns through xxhash64 into an aggregate makes nothing
  * prunable, so the measured time is the true cost of computing the full
  * result (without `Verify`'s coalesce(1) single-writer sink distorting
  * it).
  *
  * The checksum triple is (row count, bit_xor of row hashes, wrapping-sum
  * of row hashes as decimal): bit_xor alone cancels rows with even
  * multiplicity and ignores row count entirely (r8 ADVICE), so the
  * determinism check also compares the multiplicity-sensitive sum and the
  * count.
  */
object ProbeMaterialize {

  /** (rows, bit_xor of xxhash64 row hashes, wrapping sum of row hashes).
    * Order-independent, multiplicity-sensitive, nothing prunable. Map
    * columns are json-ized first (hashing MapType is disallowed —
    * key order would make the hash nondeterministic). */
  /** The checksum-wrapped frame itself — exposed so dev probes can execute
    * it and then walk ITS executed plan for populated SQL metrics. */
  private[graft] def wrap(df: DataFrame): DataFrame = {
    val hashable = df.schema.fields.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name)).as(f.name)
        case _          => col(f.name)
      }
    }
    val h = df.select(hashable.toIndexedSeq: _*)
    h.select(xxhash64(h.columns.map(col).toIndexedSeq: _*).as("h"))
      .agg(count(lit(1)).as("n"), expr("bit_xor(h)").as("x"),
        sum(col("h").cast(DecimalType(38, 0))).as("s"))
  }

  def checksum(df: DataFrame): (Long, Long, BigDecimal) = {
    val r = wrap(df).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1),
      if (r.isNullAt(2)) BigDecimal(0) else BigDecimal(r.getDecimal(2)))
  }
}
