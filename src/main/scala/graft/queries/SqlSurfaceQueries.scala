package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scalar-function and SQL-surface queries: the reference invokes no
  * string/date/math functions (SURVEY.md §2.5), but "same query
  * capabilities" means a user must be able to run them — these pin the
  * engine's scalar library and the `spark.sql` entry path against the
  * oracle.
  */
object SqlSurfaceQueries extends QuerySet {
  import Tables._

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // GROUPING SETS through the SQL entry path (temp view + spark.sql)
    "q16_grouping_sets" -> ((s, dir) => {
      t(s, dir, "orders").createOrReplaceTempView("orders_v")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_v
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
      """)
    }),

    // String-function surface
    "q17_strings" -> ((s, dir) =>
      t(s, dir, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("name_upper"),
        substring(col("p_name"), 1, 4).as("name_pfx"),
        regexp_replace(col("p_name"), " ", "_").as("name_snake"),
        length(col("p_name")).cast("long").as("name_len"),
        concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
        lpad(col("p_partkey").cast("string"), 8, "0").as("key_padded"),
        trim(lit("  x  ")).as("trimmed"))),

    // Array-function surface over real array columns. Output is
    // scalar-only: the driver's comparator sorts rows through pandas,
    // where array-typed cells are unhashable — so list results are
    // surfaced via element_at / size / array_join instead of raw arrays.
    "q21_arrays" -> ((s, dir) => {
      val first4 = sort_array(slice(col("embedding"), 1, 4))
      t(s, dir, "embeddings").select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        element_at(first4, 1).cast("double").as("first4_min"),
        element_at(first4, 4).cast("double").as("first4_max"),
        array_join(transform(
          sort_array(array_distinct(array(col("label"), col("label"), lit(0)))),
          x => x.cast("string")), ",").as("label_set"),
        array_contains(array(lit(1), lit(2), lit(3)), col("label"))
          .as("label_low"),
        element_at(reverse(col("embedding")), 1).cast("double").as("last_elem"),
        size(flatten(array(slice(col("embedding"), 1, 2),
          slice(col("embedding"), 3, 2)))).cast("long").as("flat_len"))
    }),

    // Datetime-function surface (functions with identical cross-engine
    // definitions; day-of-week numbering differs by engine so it is
    // expressed via an explicit epoch-day formula on both sides)
    "q18_datetime" -> ((s, dir) =>
      t(s, dir, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).cast("long").as("y"),
        month(col("o_orderdate")).cast("long").as("m"),
        dayofmonth(col("o_orderdate")).cast("long").as("d"),
        date_trunc("month", col("o_orderdate")).as("month_start"),
        datediff(col("o_orderdate").cast("date"),
          lit("1995-01-01").cast("date")).cast("long").as("days_since"),
        (pmod(unix_date(col("o_orderdate").cast("date")) + 3, lit(7)))
          .cast("long").as("dow_mon0"))))

  val oracles: Map[String, String] = Map(
    "q16_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""",
    "q17_strings" ->
      """SELECT p_partkey,
         upper(p_name) AS name_upper,
         substr(p_name, 1, 4) AS name_pfx,
         regexp_replace(p_name, ' ', '_', 'g') AS name_snake,
         CAST(len(p_name) AS BIGINT) AS name_len,
         concat_ws('|', p_brand, p_type) AS brand_type,
         lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS key_padded,
         trim('  x  ') AS trimmed
         FROM part""",
    "q21_arrays" ->
      """SELECT vec_id,
         CAST(len(embedding) AS BIGINT) AS dim,
         CAST(list_sort(embedding[1:4])[1] AS DOUBLE) AS first4_min,
         CAST(list_sort(embedding[1:4])[4] AS DOUBLE) AS first4_max,
         array_to_string(list_sort(list_distinct([label, label, 0])), ',')
           AS label_set,
         list_contains([1, 2, 3], label) AS label_low,
         CAST(list_reverse(embedding)[1] AS DOUBLE) AS last_elem,
         CAST(len(flatten([embedding[1:2], embedding[3:4]])) AS BIGINT)
           AS flat_len
         FROM embeddings""",
    "q18_datetime" ->
      """SELECT o_orderkey,
         CAST(year(o_orderdate) AS BIGINT) AS y,
         CAST(month(o_orderdate) AS BIGINT) AS m,
         CAST(day(o_orderdate) AS BIGINT) AS d,
         date_trunc('month', o_orderdate) AS month_start,
         CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
           AS BIGINT) AS days_since,
         CAST((date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           + 3) % 7 AS BIGINT) AS dow_mon0
         FROM orders""")
}
