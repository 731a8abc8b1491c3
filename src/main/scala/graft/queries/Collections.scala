package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.QuerySpec
import graft.engine.Tables

/** Array and map column operators — the nested-type surface the reference's
  * closed 6-type scalar system cannot express at all (reference:
  * src/types/mod.rs:22-35, "Unsupported data type" panic at :57).
  */
object Collections {

  lazy val specs: Vector[QuerySpec] = Vector(
    // Array algebra over token arrays.
    QuerySpec(
      "q59_array_funcs",
      (s, d) => {
        val t = split(col("text"), " ")
        Tables(s, d, "documents")
          .select(
            col("doc_id"),
            size(t).cast(LongType).as("n"),
            element_at(t, 1).as("first_tok"),
            element_at(t, -1).as("last_tok"),
            array_position(t, "the").as("pos_the"),
            array_contains(t, "spark").as("has_spark"),
            size(array_remove(t, "the")).cast(LongType).as("n_wo_the"),
            size(flatten(array(slice(t, lit(1), lit(2)), slice(t, lit(3), lit(2)))))
              .cast(LongType).as("n_flat"),
          )
          .orderBy("doc_id")
      },
      Some("""WITH l AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
             |SELECT doc_id,
             |  len(t) AS n,
             |  t[1] AS first_tok,
             |  t[-1] AS last_tok,
             |  CAST(COALESCE(list_position(t, 'the'), 0) AS BIGINT) AS pos_the,
             |  list_contains(t, 'spark') AS has_spark,
             |  CAST(len(list_filter(t, x -> x != 'the')) AS BIGINT) AS n_wo_the,
             |  CAST(len(flatten([t[1:2], t[3:4]])) AS BIGINT) AS n_flat
             |FROM l ORDER BY doc_id""".stripMargin),
    ),
    // Map construction + lookup from parallel arrays.
    QuerySpec(
      "q60_map_funcs",
      (s, d) =>
        Tables(s, d, "part")
          .select(
            col("p_partkey"),
            map_from_arrays(
              array(lit("brand"), lit("type")),
              array(col("p_brand"), col("p_type"))).as("m"))
          .select(
            col("p_partkey"),
            element_at(col("m"), "brand").as("brand"),
            element_at(col("m"), "type").as("ptype"),
            size(map_keys(col("m"))).cast(LongType).as("n_keys"),
          )
          .orderBy("p_partkey"),
      Some("""SELECT p_partkey,
             |  m['brand'][1] AS brand,
             |  m['type'][1] AS ptype,
             |  CAST(len(map_keys(m)) AS BIGINT) AS n_keys
             |FROM (SELECT p_partkey,
             |        MAP(['brand', 'type'], [p_brand, p_type]) AS m
             |      FROM part)
             |ORDER BY p_partkey""".stripMargin),
    ),
  )
}
