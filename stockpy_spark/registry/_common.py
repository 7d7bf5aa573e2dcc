"""Shared pieces of the query registry: the ``query`` decorator, the
one table reader ``_t``, and the SQL fragments that more than one
domain module uses. A fragment used by one domain lives in that
domain's module.
"""

from __future__ import annotations

from typing import Callable, NamedTuple

from pyspark.sql import DataFrame, SparkSession

from stockpy_spark.functions.text import ENGLISH_STOPWORDS
from stockpy_spark.sources.testdata import read_events


class Query(NamedTuple):
    fn: Callable
    oracle: str | None
    serial: bool


# every declared query, in declaration order; registry/__init__.py
# orders them by DRIVER_PRIORITY
REGISTERED: dict[str, Query] = {}


def query(name: str, *, oracle: str | None, serial: bool = False):
    """Declare the decorated ``(spark, sf_dir) -> DataFrame`` function as
    query ``name``, checked against the DuckDB SQL ``oracle`` (None: a
    rows-only check). ``serial=True`` marks a query that writes shared
    fixtures or sets session conf, so it is not safe to run concurrently
    with other queries. Declaring a name twice raises ValueError."""

    def register(fn):
        if name in REGISTERED:
            raise ValueError(f"query {name!r} is declared twice")
        REGISTERED[name] = Query(fn, oracle, serial)
        return fn

    return register


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return read_events(spark, sf_dir)
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_STOP_SQL = "[" + ", ".join(f"'{w}'" for w in ENGLISH_STOPWORDS) + "]"


_TOKENS_SQL = "regexp_split_to_array(trim(text), '\\s+')"


_TOKENS_LOWER_SQL = "regexp_split_to_array(trim(lower(text)), '\\s+')"


SQL_MINHASH_BSIG_CTES = f"""tok AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
), base AS (
    SELECT doc,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM tok
), sig AS (
    SELECT doc, g.h AS h,
           min((h1 + g.h * h2) % 1000000007) AS mh
    FROM base CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, g.h
), bands AS (
    SELECT doc, h // 6 AS band,
           lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
    FROM sig
), bsig AS (
    SELECT doc, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM bands GROUP BY doc, band
)"""


SQL_MM_PIXELS = """
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), px AS (
    SELECT d.doc_id, d.w, d.h,
           SUM((d.doc_id * 31 + y.y * 17 + x.x * 7 + c.c * 5) % 256) AS px_sum
    FROM dims d
    JOIN generate_series(0, 8) y(y) ON y.y < d.h
    JOIN generate_series(0, 10) x(x) ON x.x < d.w
    JOIN generate_series(0, 2) c(c) ON TRUE
    GROUP BY d.doc_id, d.w, d.h
)
SELECT doc_id, CAST(w AS INTEGER) AS width, CAST(h AS INTEGER) AS height,
       CAST(px_sum AS BIGINT) AS px_sum,
       CAST(px_sum AS DOUBLE) / CAST(w * h * 3 AS DOUBLE) AS mean_lum,
       'image/bmp' AS media_type
FROM px
"""


SQL_MM_PHASH = r"""
WITH dims AS (
    SELECT doc_id, doc_id % 8 + 4 AS w, doc_id % 6 + 4 AS h FROM documents
), grid AS (
    SELECT d.doc_id, gy.gy * 8 + gx.gx AS k,
           (gy.gy * d.h) // 8 AS y, (gx.gx * d.w) // 8 AS x
    FROM dims d
    JOIN generate_series(0, 7) gy(gy) ON TRUE
    JOIN generate_series(0, 7) gx(gx) ON TRUE
), lum AS (
    SELECT doc_id, k,
           (((doc_id * 31 + y * 17 + x * 7) % 256)
          + ((doc_id * 31 + y * 17 + x * 7 + 5) % 256)
          + ((doc_id * 31 + y * 17 + x * 7 + 10) % 256)) // 3 AS lum
    FROM grid
), bits AS (
    SELECT l.doc_id, l.k, CASE WHEN 64 * l.lum > t.tl THEN 1 ELSE 0 END AS bit
    FROM lum l
    JOIN (SELECT doc_id, sum(lum) AS tl FROM lum GROUP BY doc_id) t
      ON l.doc_id = t.doc_id
), bands AS (
    SELECT doc_id, k // 16 AS band, CAST(sum(bit << (k % 16)) AS INTEGER) AS bv
    FROM bits GROUP BY doc_id, k // 16
), hashes AS (
    SELECT doc_id,
           max(CASE WHEN band = 0 THEN bv END) AS b0,
           max(CASE WHEN band = 1 THEN bv END) AS b1,
           max(CASE WHEN band = 2 THEN bv END) AS b2,
           max(CASE WHEN band = 3 THEN bv END) AS b3
    FROM bands GROUP BY doc_id
)
SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
          + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
            AS INTEGER) AS hamming
FROM hashes a JOIN hashes b
  ON a.doc_id < b.doc_id
 AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3)) <= 2
"""


# --- deterministic sampling / splitting / packing ---
_BUCKET_SQL = (
    "CAST(concat('0x', substr(md5('{salt}|' || CAST(doc_id AS VARCHAR)), 1, 15)) "
    "AS BIGINT) % 10000"
)


SQL_CM_SKETCH = r"""
WITH v AS (
    SELECT CAST(user_id AS VARCHAR) AS v FROM events WHERE user_id IS NOT NULL
), r AS (
    SELECT v, j.j,
           CAST(concat('0x', substr(md5('cm' || CAST(j.j AS VARCHAR)
                || chr(31) || v), 1, 13)) AS BIGINT) % 64 AS b
    FROM v JOIN (VALUES (0), (1), (2), (3)) j(j) ON TRUE
), sk AS (
    SELECT j, b, count(*) AS c FROM r GROUP BY j, b
), ex AS (
    SELECT v, count(*) AS exact_count FROM v GROUP BY v
), kr AS (
    SELECT ex.v, ex.exact_count, j.j,
           CAST(concat('0x', substr(md5('cm' || CAST(j.j AS VARCHAR)
                || chr(31) || ex.v), 1, 13)) AS BIGINT) % 64 AS b
    FROM ex JOIN (VALUES (0), (1), (2), (3)) j(j) ON TRUE
)
SELECT kr.v AS item, CAST(kr.exact_count AS BIGINT) AS exact_count,
       CAST(min(sk.c) AS BIGINT) AS cm_estimate
FROM kr JOIN sk ON kr.j = sk.j AND kr.b = sk.b
GROUP BY kr.v, kr.exact_count
"""


def _bsig_ctes(suffix: str, src: str) -> str:
    """The minhash band-signature CTE chain (SQL_MINHASH_BSIG_CTES)
    instantiated over an arbitrary source CTE with suffixed names,
    bands=2 (6 rows per band)."""
    return f"""tok{suffix} AS (
    SELECT DISTINCT doc_id AS doc, unnest({_TOKENS_LOWER_SQL}) AS tok
    FROM {src} WHERE text IS NOT NULL AND trim(text) <> ''
), base{suffix} AS (
    SELECT doc,
           CAST(concat('0x', substr(md5('1|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h1,
           CAST(concat('0x', substr(md5('2|' || tok), 1, 15)) AS BIGINT) % 1000000007 AS h2
    FROM tok{suffix}
), sig{suffix} AS (
    SELECT doc, g.h AS h,
           min((h1 + g.h * h2) % 1000000007) AS mh
    FROM base{suffix} CROSS JOIN generate_series(0, 11) AS g(h)
    GROUP BY doc, g.h
), bands{suffix} AS (
    SELECT doc, h // 6 AS band,
           lpad(CAST(h AS VARCHAR), 4, '0') || ':' || CAST(mh AS VARCHAR) AS hmh
    FROM sig{suffix}
), bsig{suffix} AS (
    SELECT doc, band, md5(string_agg(hmh, ',' ORDER BY hmh)) AS bs
    FROM bands{suffix} GROUP BY doc, band
)"""
