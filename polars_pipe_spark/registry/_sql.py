"""DuckDB SQL fragments that more than one registry oracle is built from:
text normalisation and tokens, the minhash-LSH pair body, cosine and
hyperplane-bucket arithmetic, md5-bucket and hex-hash folds."""

from __future__ import annotations


_NORM = "regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')"
_TOKS = f"CASE WHEN {_NORM} = '' THEN CAST([] AS VARCHAR[]) ELSE string_split({_NORM}, ' ') END"
_MARKERS = {
    "de": ["der", "die", "das", "und", "ein", "eine", "ist", "zu"],
    "en": ["the", "and", "of", "to", "a", "in", "is", "it"],
    "es": ["el", "la", "los", "de", "y", "un", "una", "es"],
    "fr": ["le", "la", "les", "de", "et", "un", "une", "est"],
}
_PUNCT_RE = "[.,;:!?''\"()\\[\\]{}-]"


def _in_list(words: list[str]) -> str:
    return "(" + ", ".join(f"'{w}'" for w in words) + ")"


def _lang_score(lang: str) -> str:
    return f"len(list_filter(toks, t -> t IN {_in_list(_MARKERS[lang])}))"


_SHINGLES3 = (
    "CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')] "
    "ELSE list_transform(range(1, len(toks) - 1), i -> array_to_string(toks[i:i+2], ' ')) END"
)


def _q25_inner(max_band_members: int | None) -> str:
    """Canonical minhash-LSH pair generation in DuckDB SQL, REPLAYING
    the Spark side's band-bucket cap contract (r11 verdict task 2, the
    q251 fix pattern generalized): ``minhash_near_dups`` /
    ``minhash_lsh_candidates`` DROP band buckets with more than
    ``max_band_members`` distinct members before the self-join
    (functions/dedup.py::_cap_band_buckets), so a brute-force oracle is
    only valid while no bucket saturates — exactly the class of silent
    wrong-answer-at-scale that q251's sf0.1 run caught for simhash.
    The capped CTE (``bc``/``kept``) makes every _Q25_BODY consumer's
    oracle valid at ANY rung, binding cap or not.  ``None`` keeps the
    uncapped body — used ONLY by q183, whose Spark side
    (``incremental_near_dups``) deliberately runs uncapped (the batch
    side is small by construction; see its docstring)."""
    if max_band_members is None:
        kept = "bands"
        cap_ctes = ""
    else:
        kept = "kept"
        cap_ctes = f"""
    , bc AS (
      SELECT band, COUNT(*) AS n_members FROM bands GROUP BY band
    ), kept AS (
      SELECT bands.doc_id, bands.band
      FROM bands JOIN bc USING (band) WHERE bc.n_members <= {max_band_members}
    )"""
    return f"""
    WITH tok AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), dsh AS (
      SELECT doc_id, list_distinct({_SHINGLES3}) AS dsh FROM tok
    ), sig AS (
      SELECT doc_id, (list_sort(list_transform(dsh, s -> md5(s))))[1:8] AS sig FROM dsh
    ), bands AS (
      SELECT DISTINCT doc_id, unnest([
        concat_ws('|', '0', sig[1], sig[2]), concat_ws('|', '1', sig[3], sig[4]),
        concat_ws('|', '2', sig[5], sig[6]), concat_ws('|', '3', sig[7], sig[8])
      ]) AS band FROM sig
    ){cap_ctes}, cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM {kept} a JOIN {kept} b ON a.band = b.band AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b,
           round(CAST(len(list_filter(x.dsh, s -> list_contains(y.dsh, s))) AS DOUBLE)
                 / (len(x.dsh) + len(y.dsh)
                    - len(list_filter(x.dsh, s -> list_contains(y.dsh, s)))), 6) AS jaccard
    FROM cand JOIN dsh x ON x.doc_id = id_a JOIN dsh y ON y.doc_id = id_b
"""


# cap=1000 mirrors every minhash_near_dups call site's default
_Q25_INNER = _q25_inner(1000)

_DOT = (
    "list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), (x, y) -> x + y)"
)
_NORM_V = (
    "sqrt(list_reduce(list_transform(range(1, len({a}) + 1), "
    "i -> CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE)), (x, y) -> x + y))"
)


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"round({_DOT.format(a=a, b=b)} / "
        f"({_NORM_V.format(a=a)} * {_NORM_V.format(a=b)}), 6)"
    )


def _bucket_sql(v: str, n_planes: int) -> str:
    bits = []
    for j in range(n_planes):
        proj = (
            f"list_reduce(list_transform(range(1, len({v}) + 1), "
            f"i -> CAST({v}[i] AS DOUBLE) * sin({j + 1} * 2.399963229728653 * i + {j})), "
            f"(x, y) -> x + y)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << (n_planes - 1 - j)} ELSE 0 END)")
    return "(" + " + ".join(bits) + ")"


_WINDOWED_SQL = """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type, COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
    FROM events GROUP BY 1, 2, 3
"""

# q63 oracle: same pair generation as q25, then recursive-CTE connected
# components (min reachable id per node)
_Q25_BODY = "SELECT * FROM (" + _Q25_INNER + ") WHERE jaccard >= 0.2"

_ATTRIBUTION_SQL = """
    SELECT p.user_id, p.event_id AS purchase_id, p.ts, p.value,
           c.event_id AS click_id, c.ts AS click_ts, c.value AS click_value
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts >= p.ts - INTERVAL '1 hour'
     AND c.ts <= p.ts
"""


def _md5_bucket_sql(expr: str, n: int) -> str:
    nibs = [
        f"(strpos('0123456789abcdef', substr(md5({expr}), {i}, 1)) - 1)"
        for i in range(1, 5)
    ]
    acc = nibs[0]
    for nib in nibs[1:]:
        acc = f"({acc} * 16 + {nib})"
    return f"({acc} % {n})"


# q128: mirrors functions/text.py::quality_classifier — same feature
# fragments as the q23 oracle, weights binary-exact, additions in the
# same left-associative order, sigmoid rounded to 6 before comparison.
_LANG_PRED = f"""
    CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
         WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
         WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
         WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
         ELSE 'fr' END
"""


def _hex_int_sql(expr: str, n_digits: int) -> str:
    """DuckDB twin of Spark's ``conv(substring(md5(x),1,n),16,10)``:
    nibble-position arithmetic, portable to any engine with strpos."""
    val = "CAST(0 AS BIGINT)"
    for i in range(1, n_digits + 1):
        nib = f"(strpos('0123456789abcdef', substr({expr}, {i}, 1)) - 1)"
        val = f"({val} * 16 + {nib})"
    return val


# q242: the CMS grid and estimates re-derived in SQL — md5-hex bucket
# hash via the q30 strpos parse, min-over-rows estimator, one-sided
# guarantee checked per probe key.
def _cms_hash_sql(expr: str) -> str:
    return (
        "("
        + " + ".join(
            f"(strpos('0123456789abcdef', substr(md5({expr}), {i + 1}, 1)) - 1)"
            f" * {16 ** (7 - i)}"
            for i in range(8)
        )
        + ")"
    )
