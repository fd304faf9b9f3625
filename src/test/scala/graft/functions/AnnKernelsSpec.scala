package graft.functions

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Direct property tests for the fused ANN kernels (`top_cells`,
  * `nearest_sub_cell`, `adc_sum`) — r17 shipped the first two verified only
  * transitively (oracle hashes + family specs), so their pinned corner
  * semantics (NaN-greatest, -0.0 normalization, ties, shorter candidate
  * vectors, empty candidate sets, kTop > candidates) had no direct
  * witness a Spark upgrade or refactor would trip (r17 VERDICT #6).
  *
  * Method: evaluate the kernel AND the exact interpreted expression
  * chain it replaced (slice(array_sort(transform(...), <comparator>)) /
  * element_at(array_sort(transform(filter(...))), 1)) over a
  * deterministic corpus that exercises every corner, NULL inputs
  * included, and assert row-by-row equality of the results' JSON
  * rendering (bit-exact doubles via to_json of the structs).
  */
class AnnKernelsSpec extends SparkSpecBase {

  // the comparator texts the kernels are pinned to: the array_sort
  // comparators of the expression chains the kernels replaced
  private val simDesc =
    """(l, r) -> CASE WHEN isnan(l.csim) AND NOT isnan(r.csim) THEN -1
                      WHEN isnan(r.csim) AND NOT isnan(l.csim) THEN 1
                      WHEN l.csim > r.csim THEN -1
                      WHEN l.csim < r.csim THEN 1
                      WHEN l.cell < r.cell THEN -1
                      WHEN l.cell > r.cell THEN 1 ELSE 0 END"""
  private val distAsc =
    """(l, r) -> CASE WHEN isnan(l.d) AND NOT isnan(r.d) THEN 1
                      WHEN isnan(r.d) AND NOT isnan(l.d) THEN -1
                      WHEN l.d < r.d THEN -1
                      WHEN l.d > r.d THEN 1
                      WHEN l.cell < r.cell THEN -1
                      WHEN l.cell > r.cell THEN 1 ELSE 0 END"""

  /** The reference chain for top_cells over an idx of (cell, cv) structs.
    * -0.0 is normalized like the kernel (sims are `+ 0.0`-adjusted before
    * ranking — the struct comparator treats -0.0 < 0.0 while SQL double
    * ordering does not, so the chain normalizes exactly where the old
    * production expression's `>`-based comparator was insensitive). */
  private def chainTopCells(k: Int): String =
    s"""slice(array_sort(transform(idx, c -> named_struct(
          'csim', cosine_sim(vec, c.cv) + 0.0d, 'cell', c.cell)),
          $simDesc), 1, $k)"""

  private def l2(a: String, b: String): String =
    s"((dot_product($a, $a) - (CAST(2 AS DOUBLE) * dot_product($a, $b))) + dot_product($b, $b))"

  private def chainNearestSub(sub: String): String =
    s"""element_at(array_sort(transform(filter(pidx, c -> c.sub = $sub),
          c -> named_struct('d', ${l2("vec", "c.cv")} + 0.0d, 'cell', c.cell)),
          $distAsc), 1)"""

  /** Deterministic adversarial corpus: 200 rows of 8-dim query vectors ×
    * a 12-entry index, covering NaN elements, all-zero vectors (cosine
    * 0/0 guard), negative zero, exact duplicate candidate vectors (sim
    * ties broken on cell), and SHORTER candidate vectors (dims 0/3/5/8).
    */
  private lazy val corpus = {
    spark.sql(
      """SELECT id,
           transform(sequence(0, 7), j -> CAST(
             CASE
               WHEN pmod(xxhash64(id, j, 1), 11) = 0 THEN CAST('NaN' AS FLOAT)
               WHEN pmod(xxhash64(id, j, 2), 7) = 0 THEN CAST(-0.0 AS FLOAT)
               WHEN pmod(xxhash64(id, 3), 13) = 0 THEN CAST(0.0 AS FLOAT)
               ELSE pmod(xxhash64(id, j, 4), 2001) / 1000.0 - 1.0
             END AS FLOAT)) AS vec,
           transform(sequence(0, 11), c -> named_struct(
             'cell', CAST(pmod(xxhash64(id, c, 5), 6) AS BIGINT),
             'cv', slice(transform(sequence(0, 7),
               j -> CAST(
                 CASE
                   WHEN pmod(xxhash64(id, c, j, 7), 9) = 0 THEN CAST('NaN' AS FLOAT)
                   WHEN pmod(xxhash64(id, c, 8), 5) = 0 THEN CAST(0.0 AS FLOAT)
                   ELSE pmod(xxhash64(c, j, 9), 2001) / 1000.0 - 1.0
                 END AS FLOAT)),
               -- SHORTER candidates: dims 0/3/5/8 (slice, because
               -- sequence(1, 0) is the DESCENDING [1,0], not empty)
               1, CAST(element_at(array(0, 3, 5, 8, 8, 8),
                 CAST(pmod(xxhash64(id, c, 6), 6) AS INT) + 1) AS INT)))) AS idx
         FROM range(200)""")
  }

  private def assertSameColumn(df: org.apache.spark.sql.DataFrame): Unit = {
    val bad = df.filter(
      (col("a").isNull =!= col("b").isNull) ||
        (col("a").isNotNull && to_json(col("a")) =!= to_json(col("b"))))
    val n = bad.count()
    if (n != 0) bad.show(5, truncate = false)
    assert(n == 0, s"$n rows diverge between kernel and reference chain")
  }

  test("top_cells == interpreted chain (NaN / -0.0 / ties / short cvs), k=1,2,5") {
    corpus.createOrReplaceTempView("ann_corpus")
    for (k <- Seq(1, 2, 5)) {
      assertSameColumn(spark.sql(
        s"""SELECT top_cells(vec, idx, $k) AS a,
               ${chainTopCells(k)} AS b
            FROM ann_corpus"""))
    }
  }

  test("top_cells: kTop > |idx| returns all, empty idx returns empty") {
    corpus.createOrReplaceTempView("ann_corpus")
    assertSameColumn(spark.sql(
      s"""SELECT top_cells(vec, idx, 99) AS a, ${chainTopCells(99)} AS b
          FROM ann_corpus"""))
    val r = spark.sql(
      "SELECT size(top_cells(array(CAST(1.0 AS FLOAT)), " +
        "CAST(array() AS ARRAY<STRUCT<cell: BIGINT, cv: ARRAY<FLOAT>>>), 3))")
      .collect()(0).getInt(0)
    assert(r == 0, "empty candidate set must yield an empty array")
  }

  test("top_cells: all-zero query (0/0 cosine guard -> 0.0, ties on cell)") {
    val df = spark.sql(
      s"""SELECT top_cells(vec, idx, 12) AS a, ${chainTopCells(12)} AS b
          FROM (SELECT transform(sequence(0, 7), j -> CAST(0.0 AS FLOAT)) AS vec,
                       idx FROM ann_corpus)""")
    assertSameColumn(df)
  }

  test("nearest_sub_cell == interpreted chain incl. missing-sub -> NULL") {
    // pidx with subs 0..2 only; probing sub=3 must yield NULL like the
    // empty-filter chain
    spark.sql(
      """SELECT id,
           transform(sequence(0, 7), j -> CAST(
             CASE WHEN pmod(xxhash64(id, j, 21), 11) = 0 THEN CAST('NaN' AS FLOAT)
                  ELSE pmod(xxhash64(id, j, 22), 2001) / 1000.0 - 1.0 END AS FLOAT)) AS vec,
           flatten(transform(sequence(0, 2), s ->
             transform(sequence(0, 5), c -> named_struct(
               'sub', CAST(s AS INT),
               'cell', CAST(pmod(xxhash64(id, s, c, 23), 4) AS BIGINT),
               'cv', transform(sequence(0, 7), j -> CAST(
                 CASE WHEN pmod(xxhash64(s, c, j, 24), 9) = 0 THEN CAST('NaN' AS FLOAT)
                      ELSE pmod(xxhash64(s, c, j, 25), 2001) / 1000.0 - 1.0
                 END AS FLOAT)))))) AS pidx
         FROM range(120)""").createOrReplaceTempView("pq_corpus")
    for (sub <- Seq("0", "1", "2", "3")) {
      assertSameColumn(spark.sql(
        s"""SELECT nearest_sub_cell(vec, pidx, $sub) AS a,
               ${chainNearestSub(sub)} AS b
            FROM pq_corpus"""))
    }
  }

  test("kernels reject a wrong index layout at analysis time") {
    // cell as INT (not BIGINT): must fail in analysis, not misread at runtime
    val e1 = intercept[Exception](spark.sql(
      """SELECT top_cells(array(CAST(1.0 AS FLOAT)),
           array(named_struct('cell', 1, 'cv', array(CAST(1.0 AS FLOAT)))), 1)""")
      .collect())
    assert(e1.getMessage.contains("top_cells"))
    val e2 = intercept[Exception](spark.sql(
      """SELECT nearest_sub_cell(array(CAST(1.0 AS FLOAT)),
           array(named_struct('sub', 0, 'cell', 1,
             'cv', array(CAST(1.0 AS FLOAT)))), 0)""")
      .collect())
    assert(e2.getMessage.contains("nearest_sub_cell"))
  }

  /** [[corpus]] with NULLs injected where the kernels read: whole query
    * vectors, query elements, index elements, and each struct field. */
  private def withNulls(): Unit = {
    corpus.createOrReplaceTempView("ann_corpus")
    spark.sql(
      """SELECT id,
           CASE WHEN pmod(id, 7) = 0 THEN NULL
                ELSE transform(vec, (x, j) ->
                  CASE WHEN pmod(xxhash64(id, j, 30), 17) = 0 THEN NULL ELSE x END)
           END AS vec,
           CASE WHEN pmod(id, 23) = 0 THEN NULL
                ELSE transform(idx, (c, i) -> CASE
                  WHEN pmod(xxhash64(id, i, 31), 9) = 0 THEN NULL
                  WHEN pmod(xxhash64(id, i, 32), 9) = 0
                    THEN named_struct('cell', CAST(NULL AS BIGINT), 'cv', c.cv)
                  WHEN pmod(xxhash64(id, i, 33), 9) = 0
                    THEN named_struct('cell', c.cell, 'cv', CAST(NULL AS ARRAY<FLOAT>))
                  ELSE c END)
           END AS idx
         FROM ann_corpus""").createOrReplaceTempView("ann_nulls")
  }

  test("top_cells == interpreted chain on NULL vectors, elements and fields") {
    withNulls()
    for (k <- Seq(1, 3, 12, 99)) {
      assertSameColumn(spark.sql(
        s"""SELECT top_cells(vec, idx, $k) AS a, ${chainTopCells(k)} AS b
            FROM ann_nulls"""))
    }
    // a NULL k is NULL, as the chain's slice
    assertSameColumn(spark.sql(
      s"""SELECT top_cells(vec, idx, CAST(NULL AS INT)) AS a,
             slice(array_sort(transform(idx, c -> named_struct(
               'csim', cosine_sim(vec, c.cv) + 0.0d, 'cell', c.cell)), $simDesc),
               1, CAST(NULL AS INT)) AS b
          FROM ann_nulls"""))
  }

  test("nearest_sub_cell == interpreted chain on NULL vectors, elements and fields") {
    spark.sql(
      """SELECT id,
           CASE WHEN pmod(id, 7) = 0 THEN NULL
                ELSE transform(sequence(0, 7), j -> CAST(
                  pmod(xxhash64(id, j, 41), 2001) / 1000.0 - 1.0 AS FLOAT)) END AS vec,
           flatten(transform(sequence(0, 2), s ->
             transform(sequence(0, 5), c -> CASE
               WHEN pmod(xxhash64(id, s, c, 42), 11) = 0 THEN NULL
               WHEN pmod(xxhash64(id, s, c, 43), 11) = 0 THEN named_struct(
                 'sub', CAST(NULL AS INT), 'cell', CAST(c AS BIGINT),
                 'cv', transform(sequence(0, 7), j -> CAST(0.5 AS FLOAT)))
               WHEN pmod(xxhash64(id, s, c, 44), 11) = 0 THEN named_struct(
                 'sub', CAST(s AS INT), 'cell', CAST(NULL AS BIGINT),
                 'cv', transform(sequence(0, 7), j -> CAST(0.25 AS FLOAT)))
               WHEN pmod(xxhash64(id, s, c, 45), 11) = 0 THEN named_struct(
                 'sub', CAST(s AS INT), 'cell', CAST(c AS BIGINT),
                 'cv', CAST(NULL AS ARRAY<FLOAT>))
               ELSE named_struct(
                 'sub', CAST(s AS INT),
                 'cell', CAST(pmod(xxhash64(id, s, c, 46), 4) AS BIGINT),
                 'cv', transform(sequence(0, 7), j -> CAST(
                   pmod(xxhash64(s, c, j, 47), 2001) / 1000.0 - 1.0 AS FLOAT)))
               END))) AS pidx
         FROM range(150)""").createOrReplaceTempView("pq_nulls")
    for (sub <- Seq("0", "1", "2", "CAST(NULL AS INT)")) {
      assertSameColumn(spark.sql(
        s"""SELECT nearest_sub_cell(vec, pidx, $sub) AS a, ${chainNearestSub(sub)} AS b
            FROM pq_nulls"""))
    }
  }

  test("adc_sum == interpreted chain (NULLs, short rows, bad codes, overflow)") {
    // M = 4 rows of 5 BIGINT entries; each corner on its own slice of ids
    val df = spark.sql(
      """SELECT
           CASE WHEN pmod(id, 13) = 0 THEN NULL
                WHEN pmod(id, 13) = 1 THEN slice(lut, 1, 3)
                ELSE lut END AS lut,
           CASE WHEN pmod(id, 11) = 0 THEN NULL
                WHEN pmod(id, 11) = 1 THEN slice(codes, 1, 3)
                WHEN pmod(id, 11) = 2 THEN array(codes[0], codes[1], codes[2], -1)
                WHEN pmod(id, 11) = 3 THEN array(codes[0], codes[1], codes[2], 5)
                WHEN pmod(id, 11) = 4 THEN array(codes[0], CAST(NULL AS INT), codes[2], codes[3])
                ELSE codes END AS codes
         FROM (
           SELECT id,
             transform(sequence(0, 3), m -> CASE
               WHEN pmod(xxhash64(id, m, 51), 41) = 0 THEN NULL
               WHEN pmod(xxhash64(id, m, 52), 41) = 0 THEN array(CAST(1 AS BIGINT))
               ELSE transform(sequence(0, 4), c -> CASE
                 WHEN pmod(xxhash64(id, m, c, 53), 47) = 0 THEN CAST(NULL AS BIGINT)
                 WHEN pmod(xxhash64(id, m, c, 54), 47) = 0 THEN 9223372036854775807
                 ELSE pmod(xxhash64(id, m, c, 55), 200000000000) - 100000000000 END)
               END) AS lut,
             transform(sequence(0, 3), m -> CAST(pmod(xxhash64(id, m, 56), 5) AS INT)) AS codes
           FROM range(400))""")
    df.createOrReplaceTempView("adc_corpus")
    val out = spark.sql(
      """SELECT adc_sum(lut, codes) AS a,
           aggregate(zip_with(lut, codes, (row, c) -> get(row, c)),
             CAST(0 AS BIGINT), (acc, x) -> acc + x) AS b
         FROM adc_corpus""")
    val bad = out.filter(!(col("a") <=> col("b")))
    val n = bad.count()
    if (n != 0) bad.show(5, truncate = false)
    assert(n == 0, s"$n rows diverge between adc_sum and its reference chain")
    // the corpus reaches each outcome: NULL and non-NULL sums
    assert(out.filter(col("a").isNull).count() > 0)
    assert(out.filter(col("a").isNotNull).count() > 100)
  }
}
