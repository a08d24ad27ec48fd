"""URL-level crawl curation queries: canonical-URL dedup and
per-domain page caps (functions/url.py + operators/url_curation.py) —
the screens a web-corpus pipeline runs before any content-level dedup.

The documents table carries no URL column, so both queries synthesize
a deterministic URL per document from (source, doc_id) — three host/
path shapes covering scheme+host case-folding, default ports, tracking
params, fragments, trailing slashes, and a multi-part public suffix —
plus, for the dedup entry, injected tracking-polluted duplicate rows
(ids offset by 1,000,000, the dedup-family idiom). The DuckDB oracles
re-derive the FULL generic canonicalization and eTLD+1 logic in SQL —
they validate the operators, not the synthesized fixtures.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.readers import load_table
from ._base import _oracle_hash32


def _docs_with_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, url): three deterministic URL shapes by
    doc_id mod 3 (distinct registrable domain per source x shape)."""
    from ..operators._plan import spread_small_input

    # spread the scan so downstream row-local URL/HTML work runs
    # parallel (r12 serialized-Generate fix; no-op at real scale)
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    src = F.col("source")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://"), src, F.lit(".com/articles/"), d,
                F.lit("?a=1&b=2"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("HTTP://WWW."), F.upper(src), F.lit(".Co.Uk:80/articles/"), d,
            ),
        )
        .otherwise(
            F.concat(F.lit("https://cdn."), src, F.lit(".net/assets/"), d)
        )
    )
    return docs.select("doc_id", "source", url.alias("url"))


_ORACLE_URL_SYNTH = """
  SELECT doc_id, source,
         CASE doc_id % 3
           WHEN 0 THEN 'https://' || source || '.com/articles/'
                       || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
           WHEN 1 THEN 'HTTP://WWW.' || upper(source) || '.Co.Uk:80/articles/'
                       || CAST(doc_id AS VARCHAR)
           ELSE 'https://cdn.' || source || '.net/assets/'
                || CAST(doc_id AS VARCHAR)
         END AS url
  FROM documents
"""


def _docs_with_url_dups(
    spark: SparkSession, sf_dir: str, n_dups: int = 50
) -> DataFrame:
    """The URL table plus, for the first ``n_dups`` docs, a duplicate
    row (id + 1,000,000) whose URL differs only in canonicalization-
    invariant ways: default port, case, param order, tracking params,
    fragment, trailing slash."""
    base = _docs_with_urls(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").where(
        F.col("doc_id") < n_dups
    )
    d = F.col("doc_id").cast("string")
    src = F.col("source")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    dup_url = (
        F.when(
            m == 0,
            F.concat(
                F.lit("https://"), src, F.lit(".com:443/articles/"), d,
                F.lit("/?b=2&utm_source=feed&a=1#top"),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit("http://www."), src, F.lit(".co.uk/articles/"), d,
                F.lit("#frag"),
            ),
        )
        .otherwise(
            F.concat(
                F.lit("HTTPS://CDN."), F.upper(src), F.lit(".NET/assets/"), d,
                F.lit("?utm_campaign=x&ref=tw"),
            )
        )
    )
    dups = docs.select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source",
        dup_url.alias("url"),
    )
    return base.unionByName(dups)


_ORACLE_URL_DUPS = """
  SELECT doc_id + 1000000 AS doc_id, source,
         CASE doc_id % 3
           WHEN 0 THEN 'https://' || source || '.com:443/articles/'
                       || CAST(doc_id AS VARCHAR) || '/?b=2&utm_source=feed&a=1#top'
           WHEN 1 THEN 'http://www.' || source || '.co.uk/articles/'
                       || CAST(doc_id AS VARCHAR) || '#frag'
           ELSE 'HTTPS://CDN.' || upper(source) || '.NET/assets/'
                || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&ref=tw'
         END AS url
  FROM documents WHERE doc_id < 50
"""

# Generic canonicalization + eTLD+1 in DuckDB SQL — the oracle twin of
# functions/url.py (NOT a shortcut keyed to the fixtures above).
_ORACLE_CANON_CTES = r"""
parts AS (
  SELECT doc_id, source, url,
         lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
         lower(regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS host,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/:?#]+:([0-9]+)', 1) AS port,
         regexp_extract(url, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*(/[^?#]*)?', 1) AS path,
         regexp_extract(url, '^[^#?]*\?([^#]*)', 1) AS query
  FROM synth
),
canon AS (
  SELECT doc_id, source, host,
         CASE WHEN host = '' THEN url ELSE
         scheme || '://' || host
         || CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
                   OR (scheme = 'https' AND port = '443')
                 THEN '' ELSE ':' || port END
         || CASE WHEN regexp_replace(path, '/$', '') = '' THEN '/'
                 ELSE regexp_replace(path, '/$', '') END
         || CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&')
                 ELSE '' END
         END AS canonical_url
  FROM (
    SELECT *,
           list_sort(list_filter(string_split(query, '&'),
             p -> p <> '' AND NOT (starts_with(p, 'utm_')
                  OR starts_with(p, 'fbclid') OR starts_with(p, 'gclid')
                  OR starts_with(p, 'ref') OR starts_with(p, 'sessionid'))))
             AS kept
    FROM parts
  )
),
domained AS (
  SELECT *,
         CASE WHEN len(labels) <= 1 THEN host
              WHEN len(labels) >= 3 AND last2 IN
                   ('co.uk','org.uk','gov.uk','ac.uk','com.au','co.jp',
                    'co.in','com.br')
              THEN labels[len(labels) - 2] || '.' || last2
              ELSE last2 END AS domain
  FROM (
    SELECT *, string_split(host, '.') AS labels,
           string_split(host, '.')[len(string_split(host, '.')) - 1]
           || '.' ||
           string_split(host, '.')[len(string_split(host, '.'))] AS last2
    FROM canon
  )
)
"""


def q_url_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL dedup over the dup-injected URL table: every
    tracking-polluted duplicate must collapse onto its original (the
    min-doc_id keeper), proven per source by kept count + id checksum."""
    from ..operators.url_curation import dedup_canonical_url

    kept = dedup_canonical_url(_docs_with_url_dups(spark, sf_dir))
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


ORACLE_URL_CANONICAL_DEDUP = f"""
WITH synth AS (
{_ORACLE_URL_SYNTH}
  UNION ALL
{_ORACLE_URL_DUPS}
),
{_ORACLE_CANON_CTES},
kept AS (
  SELECT doc_id, source FROM canon
  QUALIFY row_number() OVER (PARTITION BY canonical_url ORDER BY doc_id) = 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM kept GROUP BY source ORDER BY source
"""


def q_domain_cap_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registrable-domain page cap (cap=5, md5-hash-order draw)
    over the URL table: per-domain kept count (<= 5) + id checksum.
    Exercises both eTLD+1 branches (source.com / source.co.uk via the
    multi-part suffix list / source.net)."""
    from ..operators.url_curation import cap_per_domain

    capped = cap_per_domain(_docs_with_urls(spark, sf_dir), cap=5)
    return (
        capped.groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("domain")
    )


ORACLE_DOMAIN_CAP_SAMPLE = f"""
WITH synth AS (
{_ORACLE_URL_SYNTH}
),
{_ORACLE_CANON_CTES},
ranked AS (
  SELECT domain, doc_id,
         row_number() OVER (
           PARTITION BY domain
           ORDER BY {_oracle_hash32("'domain-cap:' || CAST(doc_id AS VARCHAR)")}
                    % 1000000007,
                    doc_id) AS rn
  FROM domained
  WHERE coalesce(domain, '') <> ''
),
kept AS (
  SELECT domain, doc_id FROM ranked WHERE rn <= 5
  UNION ALL
  -- no-authority bypass: '' / NULL domains pass through uncapped
  -- (mirrors cap_per_domain's malformed-row contract)
  SELECT '' AS domain, doc_id FROM domained WHERE coalesce(domain, '') = ''
)
SELECT domain, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM kept
GROUP BY domain ORDER BY domain
"""


def q_parallel_page_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-structure bitext candidates (operators/url_curation.
    parallel_page_candidates): synthetic per-document URLs carry a
    language path segment (/en/, /de/, ...), so documents from the same
    source sharing a page slot pair up across languages — the
    crawl-alignment heuristic that runs before any embedding
    comparison. Census per (lang_a, lang_b) direction with an id
    checksum."""
    from ..operators.url_curation import parallel_page_candidates

    docs = load_table(spark, sf_dir, "documents")
    urls = docs.select(
        "doc_id",
        "lang",
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".com/"),
            F.col("lang"),
            F.lit("/page/"),
            F.pmod(F.col("doc_id"), F.lit(40)).cast("string"),
        ).alias("url"),
    )
    pairs = parallel_page_candidates(urls)
    return (
        pairs.groupBy("lang_a", "lang_b")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("doc_id_a") + F.col("doc_id_b")).alias("sum_ids"),
        )
        .orderBy("lang_a", "lang_b")
    )


ORACLE_PARALLEL_PAGE_CANDIDATES = r"""
WITH u AS (
  SELECT doc_id, lang,
         'https://' || source || '.com/' || lang || '/page/'
         || CAST(doc_id % 40 AS VARCHAR) AS url
  FROM documents
),
k AS (
  SELECT doc_id,
         regexp_extract(url, '^[a-z]+://[^/]+/([a-z]{2})(/|$)', 1)
           AS url_lang,
         regexp_replace(url, '^([a-z]+://[^/]+)/[a-z]{2}(/|$)', '\1\2')
           AS align_key
  FROM u
  WHERE regexp_extract(url, '^[a-z]+://[^/]+/([a-z]{2})(/|$)', 1)
        IN ('en', 'de', 'fr', 'es')
    AND lang = regexp_extract(url, '^[a-z]+://[^/]+/([a-z]{2})(/|$)', 1)
),
p AS (
  SELECT a.url_lang AS lang_a, b.url_lang AS lang_b,
         a.doc_id AS id_a, b.doc_id AS id_b
  FROM k a JOIN k b
    ON a.align_key = b.align_key AND a.url_lang < b.url_lang
)
SELECT lang_a, lang_b, CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(sum(id_a + id_b) AS BIGINT) AS sum_ids
FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


def _docs_with_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, html): a deterministic synthetic page per
    document — nav chrome (link-only), an inline <script> (>= 25
    chars, zero links: KEPT as fake content before the r12 strip fix),
    an <h1>, an HTML comment, the document text as the main <p> block,
    an entity-laden prose <p> (&amp; &lt; &nbsp; &#39; &quot;), a
    doc_id%3-varied promo block (prose+one link / link-dense /
    absent), a <style> body glued to a too-short <p>, and a link-only
    footer — so the extractor must exercise BOTH classification
    signals, both promo branches, the non-content strip, and entity
    decoding. The oracle re-derives the full block split +
    link-density logic in SQL; the fixture only has to be predictable,
    like the URL synth above."""
    from ..operators._plan import spread_small_input

    # spread the scan BEFORE synthesizing pages: every consumer runs
    # the strip/block-split/classify chain row-locally, and on the
    # small single-file scan that whole "zero-shuffle" family would
    # serialize on one core (r12 serialized-Generate fix; no-op at
    # real scale where the scan already has many partitions)
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    d = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(3))
    promo = (
        F.when(
            m == 0,
            F.concat(
                F.lit('<div class="promo">Editors recommend this '
                      'long-form related reading selection today '),
                F.lit('<a href="/rec/'), d, F.lit('">more</a></div>'),
            ),
        )
        .when(
            m == 1,
            F.concat(
                F.lit('<div class="promo"><a href="/p/1">First promoted '
                      'partner offer</a> <a href="/p/2">Second promoted '
                      'partner offer</a> ok</div>'),
            ),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<html><body><div class="nav"><a href="/">Home</a> '
              '<a href="/about">About this site</a> '
              '<a href="/contact">Contact the team</a></div>'),
        F.lit('<script type="text/javascript">var tracker = '
              'init("page"); tracker.send(42);</script>'),
        F.lit("<h1>"), F.col("source"), F.lit(" article "), d,
        F.lit("</h1><!-- rendered by engine v2 build 1234567890 --><p>"),
        F.col("text"), F.lit("</p>"),
        F.lit('<p>Ben &amp; Jerry say 2 &lt; 3 &amp;&nbsp;that&#39;s '
              '&quot;fine&quot; today.</p>'),
        promo,
        F.lit('<style>.nav{display:none} body{margin:0;padding:0}</style>'
              '<p>Short.</p><div class="footer">'
              '<a href="/tos">Terms of service</a> '
              '<a href="/privacy">Privacy policy</a></div></body></html>'),
    )
    return docs.select("doc_id", "source", html.alias("html"))


def q_html_main_content(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-page boilerplate screening (operators/html_extract.
    extract_main_content): split each synthetic page into blocks,
    drop link-dense and too-short blocks, reassemble the main text —
    entirely row-local array lambdas, zero shuffle before the report
    aggregate. Report per source: docs, total/kept blocks, content
    chars, and a BIGINT md5 checksum over every extracted content
    string — the checksum pins the exact extracted TEXT (block
    boundaries, joining newlines, whitespace collapsing), not just
    the counts."""
    from ..operators.html_extract import extract_main_content

    pages = _docs_with_html(spark, sf_dir)
    out = extract_main_content(pages)
    md5_int = F.conv(
        F.substring(F.md5(F.col("content")), 1, 8), 16, 10
    ).cast("long")
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_blocks").alias("total_blocks"),
            F.sum("n_kept_blocks").alias("kept_blocks"),
            F.sum(F.length("content")).alias("content_chars"),
            F.sum(md5_int).alias("content_checksum"),
        )
        .orderBy("source")
    )


# Entity-decode chain shared with the engine: built from the SAME
# HTML_ENTITIES list html_extract applies, so the two can never drift.
def _sql_block_txt(var: str) -> str:
    from ..operators.html_extract import HTML_ENTITIES

    out = f"regexp_replace({var}, '<[^>]*>', ' ', 'g')"
    for src, dst in HTML_ENTITIES:
        out = f"replace({out}, '{src}', '{dst.replace(chr(39), chr(39) * 2)}')"
    return f"trim(regexp_replace({out}, '\\s+', ' ', 'g'))"


def _sql_strip_noncontent(var: str) -> str:
    from ..operators.html_extract import STRIP_PATTERN

    # the pattern is backreference-free by design so the same string
    # runs under Java regex and DuckDB's RE2
    return f"regexp_replace({var}, '{STRIP_PATTERN}', ' ', 'g')"


# Block chain shared by every HTML oracle: strip script/style/
# noscript/comments -> block split -> classify (entity-decoded text)
# -> filter -> reassemble, all FROM a ``pages`` CTE the caller
# provides. docs_out carries (doc_id, source, n_blocks, n_kept,
# content); composed pipelines (curation_pipeline_v5) reuse it.
_ORACLE_BLOCK_CHAIN = r"""blocks AS (
  SELECT doc_id, source,
         regexp_split_to_array({_STRIPPED_HTML},
           '</(?:p|div|h[1-6]|li|td|section|article)>') AS raw
  FROM pages
),
classified AS (
  SELECT doc_id, source,
         list_transform(raw, b -> struct_pack(
           txt := {_TXT_B},
           lc := coalesce(list_sum(list_transform(
                   regexp_extract_all(b, '(?s)<a\b[^>]*>(.*?)</a>', 1),
                   a -> CAST(length({_TXT_A}) AS BIGINT))), 0)
         )) AS cls
  FROM blocks
),
kept AS (
  SELECT doc_id, source,
         len(cls) AS n_blocks,
         list_filter(cls, s -> length(s.txt) >= 25
                               AND 10000 * s.lc <= 3000 * length(s.txt))
         AS keep
  FROM classified
),
docs_out AS (
  SELECT doc_id, source, n_blocks,
         len(keep) AS n_kept,
         array_to_string(list_transform(keep, s -> s.txt), chr(10))
         AS content
  FROM kept
)"""


# The curation_pipeline_v5 / html_main_content fixture pages + chain.
_ORACLE_HTML_CTES = r"""pages AS (
  SELECT doc_id, source,
         '<html><body><div class="nav"><a href="/">Home</a> '
         || '<a href="/about">About this site</a> '
         || '<a href="/contact">Contact the team</a></div>'
         || '<script type="text/javascript">var tracker = '
         || 'init("page"); tracker.send(42);</script>'
         || '<h1>' || source || ' article ' || CAST(doc_id AS VARCHAR)
         || '</h1><!-- rendered by engine v2 build 1234567890 --><p>'
         || text || '</p>'
         || '<p>Ben &amp; Jerry say 2 &lt; 3 &amp;&nbsp;that&#39;s '
         || '&quot;fine&quot; today.</p>'
         || CASE doc_id % 3
              WHEN 0 THEN '<div class="promo">Editors recommend this '
                          || 'long-form related reading selection today '
                          || '<a href="/rec/' || CAST(doc_id AS VARCHAR)
                          || '">more</a></div>'
              WHEN 1 THEN '<div class="promo"><a href="/p/1">First promoted '
                          || 'partner offer</a> <a href="/p/2">Second promoted '
                          || 'partner offer</a> ok</div>'
              ELSE ''
            END
         || '<style>.nav{display:none} body{margin:0;padding:0}</style>'
         || '<p>Short.</p><div class="footer">'
         || '<a href="/tos">Terms of service</a> '
         || '<a href="/privacy">Privacy policy</a></div></body></html>'
         AS html
  FROM documents
),
{_BLOCK_CHAIN}"""


def _fill_html_chain(sql: str) -> str:
    return (
        sql.replace("{_BLOCK_CHAIN}", _ORACLE_BLOCK_CHAIN)
        .replace("{_STRIPPED_HTML}", _sql_strip_noncontent("html"))
        .replace("{_TXT_B}", _sql_block_txt("b"))
        .replace("{_TXT_A}", _sql_block_txt("a"))
    )


_ORACLE_HTML_CTES = _fill_html_chain(_ORACLE_HTML_CTES)

ORACLE_HTML_MAIN_CONTENT = """
WITH {_ORACLE_HTML_CTES}
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_blocks) AS BIGINT) AS total_blocks,
       CAST(sum(n_kept) AS BIGINT) AS kept_blocks,
       CAST(sum(length(content)) AS BIGINT) AS content_chars,
       CAST(sum({_H32_CONTENT}) AS BIGINT) AS content_checksum
FROM docs_out
GROUP BY source ORDER BY source
"""

ORACLE_HTML_MAIN_CONTENT = (
    ORACLE_HTML_MAIN_CONTENT
    .replace("{_ORACLE_HTML_CTES}", _ORACLE_HTML_CTES)
    .replace("{_H32_CONTENT}", _oracle_hash32("content"))
)


def q_curation_pipeline_v5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-11 crawl-ingestion flagship — the r11 pieces composed as
    ONE DataFrame program:

      within-page HTML boilerplate extraction (html_extract)
        -> drop pages whose main content came out empty
        -> token-budgeted temperature mixture over the EXTRACTED
           content mass (alpha=0.5 char budgets, DECIMAL(38,0) quota
           arithmetic, auto skew-safe draw)
        -> per-source report: docs kept, chars kept, id checksum

    Plan shape: extraction is row-local (zero shuffle), the budget
    join threads group sizes for free, and the only corpus shuffles
    are the sampler's mass census + prefix window — the composed plan
    adds NOTHING over the sampler alone. The one driver-side scalar is
    the 1-row total-mass aggregate (the q_token_budget_mixture
    precedent). Oracle: the shared HTML CTE chain feeding the same
    isqrt/budget/md5-prefix SQL, so membership is recomputed
    end-to-end from the raw documents table."""
    from ..operators.html_extract import extract_main_content
    from ..operators.sampling import token_budget_mixture_sample

    pages = _docs_with_html(spark, sf_dir)
    docs = (
        extract_main_content(pages)
        .select(
            "doc_id",
            "source",
            F.length("content").alias("n_chars"),
        )
        .where(F.col("n_chars") > 0)
        # persist the 3-narrow-column rollup as a scan barrier (r12;
        # the v6 precedent): the total agg, the sampler's mass census,
        # and its join side would otherwise EACH re-evaluate the
        # interpreted extraction chain (no CSE for lambdas). Consumers
        # clearCache between entries (catalog contract).
        .persist()
    )
    # coalesce: if EVERY page extracted to empty (all filtered above),
    # sum() is NULL and a bare [0] // 3 would raise (r11 ADVICE); a 0
    # budget just yields the empty sample downstream
    total = docs.agg(
        F.coalesce(F.sum("n_chars"), F.lit(0))
    ).first()[0] // 3
    s = token_budget_mixture_sample(docs, "source", "doc_id", "n_chars", total)
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


ORACLE_CURATION_PIPELINE_V5 = """
WITH {_ORACLE_HTML_CTES},
docs2 AS (
  SELECT doc_id, source, CAST(length(content) AS BIGINT) AS n_chars
  FROM docs_out WHERE length(content) > 0
),
masses AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS m
  FROM docs2 WHERE source IS NOT NULL GROUP BY source
),
r0 AS (
  SELECT source, m, CAST(floor(sqrt(m)) AS BIGINT) AS r FROM masses
),
r1 AS (
  SELECT source, m,
         r + CASE WHEN (r+1)*(r+1) <= m THEN 1 ELSE 0 END AS r FROM r0
),
w AS (
  SELECT source, r - CASE WHEN r*r > m THEN 1 ELSE 0 END AS wt FROM r1
),
budget AS (
  SELECT source,
         ((SELECT CAST(sum(n_chars) AS BIGINT) FROM docs2) // 3)
           * wt // (SELECT sum(wt) FROM w) AS b
  FROM w
),
ranked AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY {_H32_DOCID} % 1000000007,
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
  FROM docs2 WHERE source IS NOT NULL
)
SELECT rk.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(rk.n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(rk.doc_id) AS BIGINT) AS sum_doc_id
FROM ranked rk JOIN budget USING (source)
WHERE COALESCE(rk.cum, 0) < budget.b AND budget.b > 0
GROUP BY rk.source
ORDER BY rk.source
"""

ORACLE_CURATION_PIPELINE_V5 = (
    ORACLE_CURATION_PIPELINE_V5
    .replace("{_ORACLE_HTML_CTES}", _ORACLE_HTML_CTES)
    .replace("{_H32_DOCID}", _oracle_hash32("CAST(doc_id AS VARCHAR)"))
)


def _docs_with_multilang_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, html): pages that MIX languages block-wise —
    nav chrome, the document text, a German prose block on every page,
    and a doc_id%3-varied French / Spanish / absent block — the input
    class where a page-level language ID mislabels every minority
    block. Sentences are built from the engine's own stopword profiles
    so the per-block argmax is decisive (de=7 hits, fr=6, es=7 on
    their blocks); the oracle recomputes the full argmax, not the
    fixture's intent."""
    from ..operators._plan import spread_small_input

    # spread the scan so the row-local synth+extraction chain runs
    # parallel (r12 serialized-Generate fix; no-op at real scale)
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    m = F.pmod(F.col("doc_id"), F.lit(3))
    extra = (
        F.when(
            m == 0,
            F.lit("<p>Le rapport est un document et les auteurs sont "
                  "une equipe complete.</p>"),
        )
        .when(
            m == 1,
            F.lit("<p>El informe es un documento y los autores son una "
                  "obra la nota final.</p>"),
        )
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit('<div class="nav"><a href="/">Home</a> '
              '<a href="/about">About this site</a></div><p>'),
        F.col("text"),
        F.lit("</p><p>Der Bericht ist und bleibt von einem Autor und "
              "das Team ist da.</p>"),
        extra,
        F.lit('<div class="footer"><a href="/tos">Terms of service '
              'link</a></div>'),
    )
    return docs.select("doc_id", "source", html.alias("html"))


def q_html_block_langs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-block language segmentation (operators/html_extract.
    extract_block_languages): the kept main-content blocks of each
    mixed-language page get a stopword-argmax language label, reported
    as a (source, block_lang) census — blocks, chars, and a text
    checksum pinning the exact block boundaries AND labels. The
    operator is row-local end to end; the one shuffle is this report's
    groupBy."""
    from ..operators.html_extract import extract_block_languages

    pages = _docs_with_multilang_html(spark, sf_dir)
    out = extract_block_languages(pages)
    b = out.select(
        "source",
        F.explode(F.arrays_zip("block_texts", "block_langs")).alias("b"),
    )
    md5_int = F.conv(
        F.substring(F.md5(F.col("b.block_texts")), 1, 8), 16, 10
    ).cast("long")
    return (
        b.groupBy("source", F.col("b.block_langs").alias("block_lang"))
        .agg(
            F.count(F.lit(1)).alias("n_blocks"),
            F.sum(F.length("b.block_texts")).alias("block_chars"),
            F.sum(md5_int).alias("text_checksum"),
        )
        .orderBy("source", "block_lang")
    )


_ORACLE_MULTILANG_PAGES = r"""pages AS (
  SELECT doc_id, source,
         '<div class="nav"><a href="/">Home</a> '
         || '<a href="/about">About this site</a></div><p>'
         || text
         || '</p><p>Der Bericht ist und bleibt von einem Autor und '
         || 'das Team ist da.</p>'
         || CASE doc_id % 3
              WHEN 0 THEN '<p>Le rapport est un document et les auteurs '
                          || 'sont une equipe complete.</p>'
              WHEN 1 THEN '<p>El informe es un documento y los autores '
                          || 'son una obra la nota final.</p>'
              ELSE ''
            END
         || '<div class="footer"><a href="/tos">Terms of service '
         || 'link</a></div>'
         AS html
  FROM documents
),
{_BLOCK_CHAIN}"""

# Per-block language argmax CTEs, shared by html_block_langs and the
# language-routed curation_pipeline_v6; expects ``kept`` from the
# block chain and exposes ``best (doc_id, source, bi, txt,
# block_lang)``.
_ORACLE_BLOCK_LANG_CTES = """blockrows AS (
  SELECT doc_id, source,
         unnest(list_transform(range(1, len(keep) + 1),
                i -> struct_pack(bi := i,
                                 txt := keep[CAST(i AS INT)].txt))) AS b
  FROM kept
),
toks AS (
  SELECT doc_id, source, b.bi AS bi, b.txt AS txt,
         list_transform(list_filter(string_split_regex(trim(b.txt), '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS t
  FROM blockrows
),
scores AS (
  SELECT doc_id, source, bi, txt, v.pl,
         len(list_filter(t, x -> list_contains(v.sw, x))) AS sc
  FROM toks, (VALUES {_SW_VALUES}) v(pl, sw)
),
best AS (
  -- argmax per (doc, block): doc_id MUST partition too — identical
  -- fixture blocks recur across docs and a (source, bi, txt) key
  -- would collapse them to one row
  SELECT doc_id, source, bi, txt,
         CASE WHEN sc > 0 THEN pl ELSE 'und' END AS block_lang
  FROM scores
  QUALIFY row_number() OVER (PARTITION BY doc_id, bi
                             ORDER BY sc DESC, pl ASC) = 1
)"""

ORACLE_HTML_BLOCK_LANGS = """
WITH {_PAGES_CHAIN},
{_BLOCK_LANG_CTES}
SELECT source, block_lang,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(sum(length(txt)) AS BIGINT) AS block_chars,
       CAST(sum({_H32_TXT}) AS BIGINT) AS text_checksum
FROM best GROUP BY source, block_lang ORDER BY source, block_lang
"""


def _docs_with_robots_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, html): pages cycling through the robots-meta
    cases by doc_id%5 — NONE shorthand (uppercase), noindex+follow,
    index+follow, reversed attribute order with noindex, and no meta
    at all — so the screen must parse both attribute orders,
    case-fold, token-split, and default absent metas to keep."""
    from ..operators._plan import spread_small_input

    # spread the scan so the row-local synth+extraction chain runs
    # parallel (r12 serialized-Generate fix; no-op at real scale)
    docs = spread_small_input(load_table(spark, sf_dir, "documents"))
    m = F.pmod(F.col("doc_id"), F.lit(5))
    meta = (
        F.when(m == 0, F.lit('<meta name="robots" content="NONE">'))
        .when(m == 1, F.lit('<meta name="robots" content="noindex, follow">'))
        .when(m == 2, F.lit('<meta name="robots" content="index, follow">'))
        .when(m == 3, F.lit('<meta content="nofollow,noindex" name="robots">'))
        .otherwise(F.lit(""))
    )
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit("</head><body><h1>"), F.col("source"),
        F.lit(" page "), F.col("doc_id").cast("string"),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p></body></html>"),
    )
    return docs.select("doc_id", "source", html.alias("html"))


def q_robots_noindex_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-compliance screen (operators/html_extract.
    drop_robots_noindex): pages declaring noindex (or the NONE
    shorthand, any case, either attribute order) drop BEFORE content
    extraction; absent metas default to keep. Report per source:
    pages kept, id checksum, and the total parsed-directive count
    over survivors (pins the directive ARRAY, not just membership)."""
    from ..operators.html_extract import drop_robots_noindex

    pages = _docs_with_robots_html(spark, sf_dir)
    kept = drop_robots_noindex(pages)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(F.size("robots").cast("long")).alias("n_directives"),
        )
        .orderBy("source")
    )


ORACLE_ROBOTS_NOINDEX_SCREEN = """
WITH pages AS (
  SELECT doc_id, source,
         '<html><head>'
         || CASE doc_id % 5
              WHEN 0 THEN '<meta name="robots" content="NONE">'
              WHEN 1 THEN '<meta name="robots" content="noindex, follow">'
              WHEN 2 THEN '<meta name="robots" content="index, follow">'
              WHEN 3 THEN '<meta content="nofollow,noindex" name="robots">'
              ELSE ''
            END
         || '</head><body><h1>' || source || ' page '
         || CAST(doc_id AS VARCHAR)
         || '</h1><p>' || text || '</p></body></html>' AS html
  FROM pages_src
),
parsed AS (
  SELECT doc_id, source,
         list_filter(list_transform(
           string_split(coalesce(
             nullif(regexp_extract(html, '{_NC}', 1), ''),
             nullif(regexp_extract(html, '{_CN}', 1), ''),
             ''), ','),
           d -> lower(trim(d))), d -> d <> '') AS robots
  FROM pages
),
kept AS (
  SELECT * FROM parsed
  WHERE NOT (list_contains(robots, 'noindex')
             OR list_contains(robots, 'none'))
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum(len(robots)) AS BIGINT) AS n_directives
FROM kept GROUP BY source ORDER BY source
"""


def _fill_robots_oracle(sql: str) -> str:
    from ..operators.html_extract import _ROBOTS_CN, _ROBOTS_NC

    return (
        sql.replace("pages_src", "documents")
        .replace("{_NC}", _ROBOTS_NC.replace("'", "''"))
        .replace("{_CN}", _ROBOTS_CN.replace("'", "''"))
    )


ORACLE_ROBOTS_NOINDEX_SCREEN = _fill_robots_oracle(ORACLE_ROBOTS_NOINDEX_SCREEN)

def _fill_sw_values(sql: str) -> str:
    from .etl import _SW_VALUES

    return sql.replace("{_SW_VALUES}", _SW_VALUES)


ORACLE_HTML_BLOCK_LANGS = _fill_sw_values(
    ORACLE_HTML_BLOCK_LANGS.replace(
        "{_PAGES_CHAIN}", _fill_html_chain(_ORACLE_MULTILANG_PAGES)
    )
    .replace("{_BLOCK_LANG_CTES}", _ORACLE_BLOCK_LANG_CTES)
    .replace("{_H32_TXT}", _oracle_hash32("txt"))
)


def _crawl_fixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, url, html): the full crawl-ingest fixture —
    every document gets a page (nav chrome, <h1>, the text as the one
    real content block, short+footer chrome; doc_id%7==3 pages carry a
    robots noindex meta), plus two injected row families sharing the
    ORIGINAL page's html byte-for-byte: +1,000,000 ids with
    canonicalization-invariant URL variants (dropped at URL dedup) and
    +2,000,000 ids on a distinct mirror domain (unique canonical URL,
    dropped at CONTENT dedup). The oracle recomputes every screen from
    this same construction."""
    docs = load_table(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    src = F.col("source")
    meta = F.when(
        F.pmod(F.col("doc_id"), F.lit(7)) == 3,
        F.lit('<meta name="robots" content="noindex">'),
    ).otherwise(F.lit(""))
    html = F.concat(
        F.lit("<html><head>"), meta,
        F.lit('</head><body><div class="nav"><a href="/">Home</a> '
              '<a href="/about">About this site</a></div><h1>'),
        src, F.lit(" article "), d,
        F.lit("</h1><p>"), F.col("text"),
        F.lit('</p><p>Short.</p><div class="footer">'
              '<a href="/tos">Terms of service</a></div></body></html>'),
    )
    raw = docs.select("doc_id", "source", html.alias("html"))
    m = F.pmod(F.col("doc_id"), F.lit(3))
    base_url = (
        F.when(
            m == 0,
            F.concat(F.lit("https://"), src, F.lit(".com/articles/"), d,
                     F.lit("?a=1&b=2")),
        )
        .when(
            m == 1,
            F.concat(F.lit("HTTP://WWW."), F.upper(src),
                     F.lit(".Co.Uk:80/articles/"), d),
        )
        .otherwise(
            F.concat(F.lit("https://cdn."), src, F.lit(".net/assets/"), d)
        )
    )
    dup_url = (
        F.when(
            m == 0,
            F.concat(F.lit("https://"), src, F.lit(".com:443/articles/"), d,
                     F.lit("/?b=2&utm_source=feed&a=1#top")),
        )
        .when(
            m == 1,
            F.concat(F.lit("http://www."), src, F.lit(".co.uk/articles/"), d,
                     F.lit("#frag")),
        )
        .otherwise(
            F.concat(F.lit("HTTPS://CDN."), F.upper(src),
                     F.lit(".NET/assets/"), d,
                     F.lit("?utm_campaign=x&ref=tw")),
        )
    )
    base = raw.select("doc_id", "source", base_url.alias("url"), "html")
    udups = raw.where(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        "source", dup_url.alias("url"), "html",
    )
    cdups = raw.where(F.col("doc_id") < 60).select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        "source",
        F.concat(F.lit("https://mirror."), src, F.lit(".org/copy/"), d)
        .alias("url"),
        "html",
    )
    return base.unionByName(udups).unionByName(cdups)


def q_crawl_ingest_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 composed crawl-ingest flagship — one DataFrame program
    over the injected fixture:

      robots noindex screen (row-local regex)
        -> canonical-URL dedup, keep min id (one short-key window)
        -> within-page boilerplate extraction (row-local)
        -> drop pages whose main content came out empty
        -> exact content dedup, keep min id (16-byte digest shuffle)
        -> per-source report: docs, chars, id sum, content checksum

    Stage order matters and is pinned by the injections: a noindex
    page must be gone BEFORE URL dedup picks canonical keepers (its
    tracking twin must then also fall to its own meta, never become
    the keeper), and mirror-domain copies survive URL dedup only to
    fall at content dedup. Plan shape: two narrow shuffles total
    (canonical_url window, content-digest window); everything else is
    row-local. The oracle recomputes every screen end-to-end from the
    documents table."""
    from ..operators.html_extract import (
        drop_robots_noindex,
        extract_main_content,
    )
    from ..operators.text_dedup import exact_dedup
    from ..operators.url_curation import dedup_canonical_url

    pages = _crawl_fixture(spark, sf_dir)
    ok = drop_robots_noindex(pages)
    kept_urls = dedup_canonical_url(ok)
    docs = (
        extract_main_content(kept_urls)
        .select("doc_id", "source", "content")
        .where(F.length("content") > 0)
    )
    final = exact_dedup(docs, text_col="content", id_col="doc_id")
    md5_int = F.conv(
        F.substring(F.md5(F.col("content")), 1, 8), 16, 10
    ).cast("long")
    return (
        final.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("content")).alias("content_chars"),
            F.sum("doc_id").alias("sum_doc_id"),
            F.sum(md5_int).alias("content_checksum"),
        )
        .orderBy("source")
    )


ORACLE_CRAWL_INGEST_PIPELINE = """
WITH rawhtml AS (
  SELECT doc_id, source,
         '<html><head>'
         || CASE WHEN doc_id % 7 = 3
                 THEN '<meta name="robots" content="noindex">'
                 ELSE '' END
         || '</head><body><div class="nav"><a href="/">Home</a> '
         || '<a href="/about">About this site</a></div><h1>'
         || source || ' article ' || CAST(doc_id AS VARCHAR)
         || '</h1><p>' || text
         || '</p><p>Short.</p><div class="footer">'
         || '<a href="/tos">Terms of service</a></div></body></html>'
         AS html
  FROM documents
),
allrows AS (
  SELECT doc_id, source,
         CASE doc_id % 3
           WHEN 0 THEN 'https://' || source || '.com/articles/'
                       || CAST(doc_id AS VARCHAR) || '?a=1&b=2'
           WHEN 1 THEN 'HTTP://WWW.' || upper(source)
                       || '.Co.Uk:80/articles/' || CAST(doc_id AS VARCHAR)
           ELSE 'https://cdn.' || source || '.net/assets/'
                || CAST(doc_id AS VARCHAR)
         END AS url, html
  FROM rawhtml
  UNION ALL
  SELECT doc_id + 1000000, source,
         CASE doc_id % 3
           WHEN 0 THEN 'https://' || source || '.com:443/articles/'
                       || CAST(doc_id AS VARCHAR)
                       || '/?b=2&utm_source=feed&a=1#top'
           WHEN 1 THEN 'http://www.' || source || '.co.uk/articles/'
                       || CAST(doc_id AS VARCHAR) || '#frag'
           ELSE 'HTTPS://CDN.' || upper(source) || '.NET/assets/'
                || CAST(doc_id AS VARCHAR) || '?utm_campaign=x&ref=tw'
         END AS url, html
  FROM rawhtml WHERE doc_id < 50
  UNION ALL
  SELECT doc_id + 2000000, source,
         'https://mirror.' || source || '.org/copy/'
         || CAST(doc_id AS VARCHAR) AS url, html
  FROM rawhtml WHERE doc_id < 60
),
robots_ok AS (
  SELECT doc_id, source, url, html FROM (
    SELECT *,
           list_filter(list_transform(
             string_split(coalesce(
               nullif(regexp_extract(html, '{_NC}', 1), ''),
               nullif(regexp_extract(html, '{_CN}', 1), ''),
               ''), ','),
             d -> lower(trim(d))), d -> d <> '') AS robots
    FROM allrows
  )
  WHERE NOT (list_contains(robots, 'noindex')
             OR list_contains(robots, 'none'))
),
synth AS (SELECT doc_id, source, url FROM robots_ok),
{_CANON_CTES},
urlkept AS (
  SELECT doc_id FROM canon
  QUALIFY row_number() OVER (PARTITION BY canonical_url
                             ORDER BY doc_id) = 1
),
pages AS (
  SELECT r.doc_id, r.source, r.html
  FROM robots_ok r JOIN urlkept USING (doc_id)
),
{_BLOCK_CHAIN},
docs2 AS (
  SELECT doc_id, source, content FROM docs_out WHERE length(content) > 0
),
cd AS (
  SELECT doc_id, source, content FROM docs2
  QUALIFY row_number() OVER (PARTITION BY lower(trim(content))
                             ORDER BY doc_id) = 1
)
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(length(content)) AS BIGINT) AS content_chars,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id,
       CAST(sum({_H32_C}) AS BIGINT) AS content_checksum
FROM cd GROUP BY source ORDER BY source
"""

ORACLE_CRAWL_INGEST_PIPELINE = _fill_html_chain(
    _fill_robots_oracle(ORACLE_CRAWL_INGEST_PIPELINE)
).replace("{_CANON_CTES}", _ORACLE_CANON_CTES.strip()).replace(
    "{_H32_C}", _oracle_hash32("content")
)


def q_curation_pipeline_v6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-12 multilingual curation flagship — LANGUAGE-ROUTED
    curation as one DataFrame program over the mixed-language pages:

      per-block extraction + language ID (extract_block_languages)
        -> keep only the ENGLISH blocks of each page, reassembled in
           document order (the routing step a multilingual crawl needs
           before a monolingual training mix — page-level language ID
           would either drop whole mixed pages or keep their German
           boilerplate)
        -> drop pages with no English content
        -> token-budgeted temperature mixture over the ROUTED char
           mass (alpha=0.5, DECIMAL-safe budgets, static skew route)
        -> per-source report: docs kept, chars kept, id checksum

    Plan shape: routing is row-local array algebra on top of the
    extraction lambdas (zero shuffle added); the sampler contributes
    its one group_col shuffle; the one driver-side scalar is the
    1-row total-mass aggregate (the v5 precedent). The oracle
    recomputes extraction, the per-block stopword argmax, the routed
    reassembly, and the isqrt/budget/prefix draw end-to-end from the
    documents table."""
    from ..operators.html_extract import extract_language_content
    from ..operators.sampling import token_budget_mixture_sample

    pages = _docs_with_multilang_html(spark, sf_dir)
    docs = (
        extract_language_content(pages, "en")
        .select("doc_id", "source", F.length("content").alias("n_chars"))
        .where(F.col("n_chars") > 0)
        # persist the 3-narrow-column rollup as a scan barrier (the
        # important_part_value precedent): the total agg, the
        # sampler's mass census, and its join side would otherwise
        # EACH re-evaluate the interpreted extraction + per-block
        # argmax chain (no CSE for lambdas) — measured 8.3s without
        # the barrier. Consumers clearCache between entries (catalog
        # contract).
        .persist()
    )
    total = docs.agg(
        F.coalesce(F.sum("n_chars"), F.lit(0))
    ).first()[0] // 3
    s = token_budget_mixture_sample(docs, "source", "doc_id", "n_chars", total)
    return (
        s.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


ORACLE_CURATION_PIPELINE_V6 = """
WITH {_PAGES_CHAIN},
{_BLOCK_LANG_CTES},
routed AS (
  SELECT doc_id, source,
         string_agg(txt, chr(10) ORDER BY bi) AS content
  FROM best WHERE block_lang = 'en'
  GROUP BY doc_id, source
),
docs2 AS (
  SELECT doc_id, source, CAST(length(content) AS BIGINT) AS n_chars
  FROM routed WHERE length(content) > 0
),
masses AS (
  SELECT source, CAST(sum(n_chars) AS BIGINT) AS m
  FROM docs2 WHERE source IS NOT NULL GROUP BY source
),
r0 AS (
  SELECT source, m, CAST(floor(sqrt(m)) AS BIGINT) AS r FROM masses
),
r1 AS (
  SELECT source, m,
         r + CASE WHEN (r+1)*(r+1) <= m THEN 1 ELSE 0 END AS r FROM r0
),
w AS (
  SELECT source, r - CASE WHEN r*r > m THEN 1 ELSE 0 END AS wt FROM r1
),
budget AS (
  SELECT source,
         ((SELECT CAST(sum(n_chars) AS BIGINT) FROM docs2) // 3)
           * wt // (SELECT sum(wt) FROM w) AS b
  FROM w
),
ranked AS (
  SELECT source, doc_id, n_chars,
         sum(n_chars) OVER (
           PARTITION BY source
           ORDER BY {_H32_DOCID} % 1000000007,
                    doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS cum
  FROM docs2 WHERE source IS NOT NULL
)
SELECT rk.source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(rk.n_chars) AS BIGINT) AS sum_chars,
       CAST(sum(rk.doc_id) AS BIGINT) AS sum_doc_id
FROM ranked rk JOIN budget USING (source)
WHERE COALESCE(rk.cum, 0) < budget.b AND budget.b > 0
GROUP BY rk.source
ORDER BY rk.source
"""

ORACLE_CURATION_PIPELINE_V6 = _fill_sw_values(
    ORACLE_CURATION_PIPELINE_V6.replace(
        "{_PAGES_CHAIN}", _fill_html_chain(_ORACLE_MULTILANG_PAGES)
    )
    .replace("{_BLOCK_LANG_CTES}", _ORACLE_BLOCK_LANG_CTES)
    .replace("{_H32_DOCID}", _oracle_hash32("CAST(doc_id AS VARCHAR)"))
)


_ROBOTS_TXT_A = "\n".join(
    [
        "# site robots",
        "User-agent: googlebot",
        "Disallow: /private",
        "User-agent: *",
        "Allow: /articles/public",
        "Disallow: /articles",
        "Disallow: /tmp",
        "User-agent: other",
        "Disallow: /",
    ]
)
_ROBOTS_TXT_B = "User-agent: *\nDisallow:"


def _robots_txt_fixture(spark: SparkSession, sf_dir: str):
    """(urls, robots): one robots.txt body per source domain — even
    sources (by last-char parity) get a multi-group body whose '*'
    group mixes Allow/Disallow with a longer-allow-inside-disallow
    nest plus decoy googlebot/other groups; odd sources get the empty
    Disallow (allow-all). URLs cycle four path shapes per doc:
    disallowed subtree, the allow-carved sub-subtree, a second
    disallowed subtree, and an unruled path."""
    docs = load_table(spark, sf_dir, "documents")
    par = F.ascii(F.substring(F.col("source"), -1, 1)) % 2
    robots = (
        docs.select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".com")).alias("domain"),
            F.when(par == 0, F.lit(_ROBOTS_TXT_A))
            .otherwise(F.lit(_ROBOTS_TXT_B))
            .alias("robots_txt"),
        )
    )
    d = F.col("doc_id").cast("string")
    m = F.pmod(F.col("doc_id"), F.lit(4))
    path = (
        F.when(m == 0, F.concat(F.lit("/articles/"), d))
        .when(m == 1, F.concat(F.lit("/articles/public/"), d))
        .when(m == 2, F.concat(F.lit("/tmp/page"), d))
        .otherwise(F.concat(F.lit("/pages/"), d))
    )
    urls = docs.select(
        "doc_id",
        "source",
        F.concat(
            F.lit("https://"), F.col("source"), F.lit(".com"), path
        ).alias("url"),
    )
    return urls, robots


def q_robots_txt_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt compliance screen (operators/url_curation.
    robots_txt_screen): per-domain User-agent:* rule tables parse once
    on the broadcast side, every URL answers the longest-prefix
    Allow/Disallow decision row-locally (Allow beats Disallow on
    ties), unruled paths and allow-all domains pass. Report per
    source: URLs kept + id checksum — on the even-parity domains
    exactly the allow-carved and unruled path shapes survive; on
    odd-parity (empty Disallow) domains everything does."""
    from ..operators.url_curation import robots_txt_screen

    urls, robots = _robots_txt_fixture(spark, sf_dir)
    kept = robots_txt_screen(urls, robots)
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("sum_doc_id"),
        )
        .orderBy("source")
    )


ORACLE_ROBOTS_TXT_SCREEN = r"""
WITH robots AS (
  SELECT source,
         CASE WHEN ascii(substr(source, length(source), 1)) % 2 = 0
              THEN '# site robots' || chr(10)
                   || 'User-agent: googlebot' || chr(10)
                   || 'Disallow: /private' || chr(10)
                   || 'User-agent: *' || chr(10)
                   || 'Allow: /articles/public' || chr(10)
                   || 'Disallow: /articles' || chr(10)
                   || 'Disallow: /tmp' || chr(10)
                   || 'User-agent: other' || chr(10)
                   || 'Disallow: /'
              ELSE 'User-agent: *' || chr(10) || 'Disallow:'
         END AS rt
  FROM (SELECT DISTINCT source FROM documents)
),
rules AS (
  -- list_zip yields UNNAMED structs in DuckDB: index numerically
  SELECT source, lower(z[1]) AS verb, z[2] AS prefix
  FROM (
    SELECT source,
           unnest(flatten(list_transform(
             list_filter(regexp_split_to_array(rt, '(?i)user-agent[ \t]*:'),
                         s -> starts_with(trim(s), '*')),
             s -> list_zip(
               regexp_extract_all(s,
                 '(?im)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^\s#]*)', 1),
               regexp_extract_all(s,
                 '(?im)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^\s#]*)', 2)
             )))) AS z
    FROM robots
  )
),
urls AS (
  SELECT doc_id, source,
         CASE doc_id % 4
           WHEN 0 THEN '/articles/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/articles/public/' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/tmp/page' || CAST(doc_id AS VARCHAR)
           ELSE '/pages/' || CAST(doc_id AS VARCHAR)
         END AS path
  FROM documents
),
decided AS (
  SELECT u.doc_id, u.source, r.verb,
         row_number() OVER (
           PARTITION BY u.doc_id
           ORDER BY length(r.prefix) DESC,
                    CASE WHEN r.verb = 'allow' THEN 0 ELSE 1 END) AS rn
  FROM urls u LEFT JOIN rules r
    ON u.source = r.source AND r.prefix <> ''
   AND starts_with(u.path, r.prefix)
),
kept AS (
  SELECT doc_id, source FROM decided
  WHERE rn = 1 AND (verb IS NULL OR verb = 'allow')
)
SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
       CAST(sum(doc_id) AS BIGINT) AS sum_doc_id
FROM kept GROUP BY source ORDER BY source
"""


def _docs_with_link_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, url, html): the link-graph fixture — each
    page keeps its _docs_with_urls URL and carries a deterministic
    body exercising every extraction/resolution branch: same-host nav
    links, an <a> inside a <script> string and one inside an HTML
    comment (both must be stripped, never extracted), a double-quoted
    absolute cross-host link, a protocol-relative link, a
    single-quoted absolute link, and the four drop classes (mailto:,
    fragment-only, path-relative, no-href). Cross-host targets use
    pure doc_id arithmetic over the same src0..src19 universe
    (multipliers 7 and 3 are coprime with 20, so every host is
    reached), keeping the oracle twin a straight SQL re-derivation."""
    pages = _docs_with_urls(spark, sf_dir)
    d = F.col("doc_id")
    ds = d.cast("string")
    t1 = F.pmod(d * 7 + 1, F.lit(20)).cast("string")
    t2 = F.pmod(d * 3 + 2, F.lit(20)).cast("string")
    t3 = F.pmod(d + 5, F.lit(20)).cast("string")
    p1 = F.pmod(d, F.lit(50)).cast("string")
    html = F.concat(
        F.lit('<html><body><div class="nav"><a href="/">Home</a> '
              '<a href="/about">About</a></div>'),
        F.lit("<script>var s = \"<a href='https://spam.example/x'>"
              'spam</a>";</script>'),
        F.lit("<h1>"), F.col("source"), F.lit(" page "), ds,
        F.lit("</h1>"),
        F.lit('<!-- <a href="https://ghost.example/g">gone</a> --><p>'),
        F.lit('<a href="https://src'), t1, F.lit(".com/articles/"), p1,
        F.lit('">Read more '), ds, F.lit("</a> and "),
        F.lit('<a href="//cdn.src'), t2, F.lit(".net/assets/a"), p1,
        F.lit('">asset bundle</a> plus '),
        F.lit("<a href='https://www.src"), t3, F.lit(".co.uk/articles/p"),
        p1, F.lit("'>partner article</a>.</p>"),
        F.lit('<p><a href="mailto:team@example.com">mail us</a> '
              '<a href="#top">back to top</a> '),
        F.lit('<a href="rel/path'), ds,
        F.lit('">relative</a> <a name="x">no href</a></p></body></html>'),
    )
    return pages.select("doc_id", "source", "url", html.alias("html"))


def q_link_host_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-graph PageRank over extracted hyperlinks (operators/
    link_graph + graph.pagerank_exact_directed): row-local anchor
    extraction and href resolution, one host-pair-bounded edge
    groupBy, then 3 exact-integer directed rounds at damping 85/100
    on the ~60-host graph. Top-15 hosts by rank with host tie-break,
    plus distinct in/out neighbor counts. The DuckDB twin re-runs the
    FULL chain — strip, anchor regex, href parse, resolution, host
    fold, and three unrolled bit-identical rounds."""
    from ..operators.graph import pagerank_exact_directed
    from ..operators.link_graph import extract_links, host_link_edges

    pages = _docs_with_link_html(spark, sf_dir)
    # Materialize the links layer once: predicate pushdown otherwise
    # inlines the full href-regex chain into every downstream filter
    # and grouping key (~6 re-evaluations per anchor, measured 4x the
    # whole-query cost at sf0.1). At 100 TB this layer is a persisted
    # parquet artifact consumers share; localCheckpoint is its
    # in-session stand-in.
    links = extract_links(pages).localCheckpoint()
    # the host-pair edge list is tiny (host-bounded): pin it before
    # fanning out to the rank iteration AND the two degree censuses
    e = host_link_edges(links).select(
        F.col("src_host").alias("src"), F.col("dst_host").alias("dst")
    ).localCheckpoint()
    pr = pagerank_exact_directed(e, iters=3)
    out_h = e.groupBy(F.col("src").alias("id")).agg(
        F.count(F.lit(1)).alias("out_hosts")
    )
    in_h = e.groupBy(F.col("dst").alias("id")).agg(
        F.count(F.lit(1)).alias("in_hosts")
    )
    return (
        pr.join(in_h, "id", "left")
        .join(out_h, "id", "left")
        .select(
            F.col("id").alias("host"),
            F.coalesce(F.col("in_hosts"), F.lit(0)).cast("long").alias("in_hosts"),
            F.coalesce(F.col("out_hosts"), F.lit(0)).cast("long").alias("out_hosts"),
            "rank_micro",
        )
        .orderBy(F.desc("rank_micro"), F.asc("host"))
        .limit(15)
    )


def q_anchor_text_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text index (operators/link_graph.extract_links): the
    retrieval-side use of the same link extraction — aggregate, per
    TARGET host, how many resolved links point there, from how many
    distinct source hosts, with how many distinct anchor texts, plus
    a 32-bit md5 checksum over (anchor_text | link_url) pinning the
    exact extracted strings. Result is host-bounded (~60 rows at any
    SF) — the scale-honest report shape."""
    from ..functions.url import url_host
    from ..operators.link_graph import extract_links

    pages = _docs_with_link_html(spark, sf_dir)
    links = extract_links(pages)
    h32 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", F.col("anchor_text"), F.col("link_url"))),
            1, 8,
        ), 16, 10,
    ).cast("long")
    return (
        links.select(
            url_host(F.col("link_url")).alias("dst_host"),
            url_host(F.col("url")).alias("src_host"),
            "anchor_text",
            "link_url",
        )
        .groupBy("dst_host")
        .agg(
            F.count(F.lit(1)).alias("n_links"),
            F.countDistinct("src_host").alias("n_src_hosts"),
            F.countDistinct("anchor_text").alias("n_anchors"),
            F.sum(h32).alias("anchor_checksum"),
        )
        .orderBy("dst_host")
    )


# Link-extraction chain shared by both link-graph oracles: synth URL +
# page html -> strip non-content -> anchor elements -> href (either
# quote style) -> resolve -> keep http(s). Mirrors operators/
# link_graph.py expression for expression.
_ORACLE_LINK_CTES = r"""u AS ({_URL_SYNTH}),
pages AS (
  SELECT doc_id, source, url,
         '<html><body><div class="nav"><a href="/">Home</a> '
         || '<a href="/about">About</a></div>'
         || '<script>var s = "<a href=''https://spam.example/x''>'
         || 'spam</a>";</script>'
         || '<h1>' || source || ' page ' || CAST(doc_id AS VARCHAR)
         || '</h1>'
         || '<!-- <a href="https://ghost.example/g">gone</a> --><p>'
         || '<a href="https://src' || CAST((doc_id * 7 + 1) % 20 AS VARCHAR)
         || '.com/articles/' || CAST(doc_id % 50 AS VARCHAR)
         || '">Read more ' || CAST(doc_id AS VARCHAR) || '</a> and '
         || '<a href="//cdn.src' || CAST((doc_id * 3 + 2) % 20 AS VARCHAR)
         || '.net/assets/a' || CAST(doc_id % 50 AS VARCHAR)
         || '">asset bundle</a> plus '
         || '<a href=''https://www.src' || CAST((doc_id + 5) % 20 AS VARCHAR)
         || '.co.uk/articles/p' || CAST(doc_id % 50 AS VARCHAR)
         || '''>partner article</a>.</p>'
         || '<p><a href="mailto:team@example.com">mail us</a> '
         || '<a href="#top">back to top</a> '
         || '<a href="rel/path' || CAST(doc_id AS VARCHAR)
         || '">relative</a> <a name="x">no href</a></p></body></html>'
         AS html
  FROM u
),
anch AS (
  SELECT doc_id, url,
         unnest(regexp_extract_all({_STRIPPED_HTML},
                '(?is)<a\b[^>]*>.*?</a>', 0)) AS a
  FROM pages
),
parsed AS (
  SELECT doc_id, url,
         CASE WHEN regexp_extract(a,
                '(?is)<a\b[^>]*?\bhref[ \t]*=[ \t]*"([^"]*)"', 1) <> ''
              THEN regexp_extract(a,
                '(?is)<a\b[^>]*?\bhref[ \t]*=[ \t]*"([^"]*)"', 1)
              ELSE regexp_extract(a,
                '(?is)<a\b[^>]*?\bhref[ \t]*=[ \t]*''([^'']*)''', 1)
         END AS href,
         {_TXT_A} AS anchor_text
  FROM anch
),
resolved AS (
  SELECT doc_id, url, href, anchor_text,
         lower(regexp_extract(url,
           '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS pscheme,
         lower(regexp_extract(url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS phost,
         CASE
           WHEN regexp_matches(href, '^[A-Za-z][A-Za-z0-9+.-]*://') THEN
             CASE WHEN lower(regexp_extract(href,
                    '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
                  IN ('http', 'https') THEN href END
           WHEN href LIKE '//%' THEN pscheme || ':' || href
           WHEN href LIKE '/%' THEN pscheme || '://' || phost || href
         END AS link_url
  FROM parsed
),
links AS (SELECT * FROM resolved WHERE link_url IS NOT NULL)"""


def _fill_link_chain(sql: str) -> str:
    return (
        sql.replace("{_LINK_CTES}", _ORACLE_LINK_CTES)
        .replace("{_URL_SYNTH}", _ORACLE_URL_SYNTH)
        .replace("{_STRIPPED_HTML}", _sql_strip_noncontent("html"))
        .replace("{_TXT_A}", _sql_block_txt("a"))
    )


def _oracle_link_host_pagerank(iters: int = 3) -> str:
    rounds = []
    prev = "r0"
    for i in range(1, iters + 1):
        rounds.append(f"""r{i} AS (
  SELECT n.id,
         CAST(150000 + (85 * coalesce(s.i, 0)) // 100 AS BIGINT)
           AS rank_micro
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS id,
           sum((2 * r.rank_micro + d.od) // (2 * d.od)) AS i
    FROM he e JOIN {prev} r ON e.src = r.id JOIN od d ON e.src = d.src
    GROUP BY e.dst) s ON n.id = s.id
)""")
        prev = f"r{i}"
    joined = ",\n".join(rounds)
    return f"""
WITH {{_LINK_CTES}},
he AS (
  SELECT DISTINCT phost AS src,
         lower(regexp_extract(link_url,
           '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS dst
  FROM links
  WHERE phost <> ''
    AND lower(regexp_extract(link_url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) <> ''
    AND lower(regexp_extract(link_url,
          '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) <> phost
),
nodes AS (SELECT src AS id FROM he UNION SELECT dst FROM he),
od AS (SELECT src, CAST(count(*) AS BIGINT) AS od FROM he GROUP BY src),
r0 AS (SELECT id, CAST(1000000 AS BIGINT) AS rank_micro FROM nodes),
{joined},
idh AS (SELECT dst AS id, CAST(count(*) AS BIGINT) AS in_hosts
        FROM he GROUP BY dst),
odh AS (SELECT src AS id, CAST(count(*) AS BIGINT) AS out_hosts
        FROM he GROUP BY src)
SELECT r.id AS host,
       CAST(coalesce(idh.in_hosts, 0) AS BIGINT) AS in_hosts,
       CAST(coalesce(odh.out_hosts, 0) AS BIGINT) AS out_hosts,
       r.rank_micro
FROM {prev} r
LEFT JOIN idh ON r.id = idh.id
LEFT JOIN odh ON r.id = odh.id
ORDER BY r.rank_micro DESC, host
LIMIT 15
"""


ORACLE_LINK_HOST_PAGERANK = _fill_link_chain(_oracle_link_host_pagerank(3))

ORACLE_ANCHOR_TEXT_INDEX = _fill_link_chain("""
WITH {_LINK_CTES}
SELECT lower(regexp_extract(link_url,
         '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS dst_host,
       CAST(count(*) AS BIGINT) AS n_links,
       CAST(count(DISTINCT phost) AS BIGINT) AS n_src_hosts,
       CAST(count(DISTINCT anchor_text) AS BIGINT) AS n_anchors,
       CAST(sum({_H32_ANCH}) AS BIGINT) AS anchor_checksum
FROM links
GROUP BY dst_host
ORDER BY dst_host
""").replace(
    "{_H32_ANCH}", _oracle_hash32("anchor_text || '|' || link_url")
)


def _redirect_fixture(spark: SparkSession, sf_dir: str):
    """(urls, redirects): within every 8-doc block, docs 0-3 form a
    3-hop redirect chain onto a terminal (0->1->2->3) and docs 4-7
    form a 4-cycle (4->5->6->7->4) — chains exercise full resolution,
    cycles exercise the cannot-terminate branch. Edges come from
    self-joining the URL table on doc_id arithmetic, so the oracle
    re-derives them with the same join, not a shortcut list."""
    urls = _docs_with_urls(spark, sf_dir)
    a = urls.select(F.col("doc_id").alias("ad"), F.col("url").alias("src_url"))
    b = urls.select(F.col("doc_id").alias("bd"), F.col("url").alias("dst_url"))
    chain = (
        a.join(b, F.col("bd") == F.col("ad") + 1)
        .where(F.pmod(F.col("ad"), F.lit(4)) < 3)
        .select("src_url", "dst_url")
    )
    cyc = (
        a.join(b, F.col("bd") == F.col("ad") - 3)
        .where(F.pmod(F.col("ad"), F.lit(8)) == 7)
        .select("src_url", "dst_url")
    )
    return urls, chain.unionByName(cyc)


def q_redirect_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain collapse (operators/link_graph.
    resolve_redirects): pointer-jumping resolution — 3 doubling
    self-joins cover 8 hops — over synthesized 3-hop chains and
    4-cycles. Report per source: URLs, how many landed on a terminal,
    and a 32-bit checksum over every final URL (pins the exact
    landing page of every chain position, not just counts). The
    DuckDB twin unrolls the identical doubling rounds AS MATERIALIZED
    (a CTE referenced twice per round inlines exponentially
    otherwise)."""
    from ..operators.link_graph import resolve_redirects

    urls, red = _redirect_fixture(spark, sf_dir)
    out = resolve_redirects(urls, red, max_hops=8)
    h32 = F.conv(
        F.substring(F.md5(F.col("final_url")), 1, 8), 16, 10
    ).cast("long")
    return (
        out.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_urls"),
            F.sum(F.col("resolved").cast("long")).alias("n_resolved"),
            F.sum(h32).alias("final_checksum"),
        )
        .orderBy("source")
    )


ORACLE_REDIRECT_RESOLUTION = r"""
WITH u AS ({_URL_SYNTH}),
red AS (
  SELECT a.url AS src_url, b.url AS dst_url
  FROM u a JOIN u b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 4 < 3
  UNION ALL
  SELECT a.url, b.url
  FROM u a JOIN u b ON b.doc_id = a.doc_id - 3
  WHERE a.doc_id % 8 = 7
),
r1 AS MATERIALIZED (
  SELECT src_url AS s, min(dst_url) AS d FROM red GROUP BY src_url
),
pts AS (SELECT s AS uu FROM r1 UNION SELECT d FROM r1),
p0 AS MATERIALIZED (
  SELECT uu, coalesce(r1.d, uu) AS nxt FROM pts LEFT JOIN r1 ON uu = r1.s
),
p1 AS MATERIALIZED (
  SELECT a.uu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p0 a LEFT JOIN p0 b ON a.nxt = b.uu
),
p2 AS MATERIALIZED (
  SELECT a.uu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p1 a LEFT JOIN p1 b ON a.nxt = b.uu
),
p3 AS MATERIALIZED (
  SELECT a.uu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p2 a LEFT JOIN p2 b ON a.nxt = b.uu
),
fin AS (
  SELECT p3.uu, p3.nxt AS final_url, (r1.s IS NULL) AS resolved
  FROM p3 LEFT JOIN r1 ON p3.nxt = r1.s
),
res AS (
  SELECT u.source,
         coalesce(f.final_url, u.url) AS final_url,
         coalesce(f.resolved, TRUE) AS resolved
  FROM u LEFT JOIN fin f ON u.url = f.uu
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_urls,
       CAST(sum(CASE WHEN resolved THEN 1 ELSE 0 END) AS BIGINT)
         AS n_resolved,
       CAST(sum({_H32_FINAL}) AS BIGINT) AS final_checksum
FROM res
GROUP BY source ORDER BY source
""".replace("{_URL_SYNTH}", _ORACLE_URL_SYNTH).replace(
    "{_H32_FINAL}", _oracle_hash32("final_url")
)


def q_crawl_frontier_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frontier-planning capstone composing the URL-side crawl stages:
    robots.txt screen (operators/url_curation.robots_txt_screen) ->
    pointer-jumping redirect collapse (link_graph.resolve_redirects)
    over a redirect graph that deliberately extends beyond the kept
    set (a redirect may pass THROUGH a disallowed URL) -> drop chains
    that cannot terminate (the 4-cycles) -> distinct landing targets
    -> per-source frontier cap (first 5 by URL order, the politeness
    budget). Report per source: robots-kept candidates, distinct
    resolved targets, frontier size, and a checksum over the capped
    frontier URLs. Every stage is individually oracle-checked
    (robots_txt_screen, redirect_resolution); this entry pins the
    COMPOSITION."""
    from pyspark.sql.window import Window

    from ..operators.link_graph import resolve_redirects
    from ..operators.url_curation import robots_txt_screen

    urls, robots = _robots_txt_fixture(spark, sf_dir)
    kept = robots_txt_screen(urls, robots)
    a = urls.select(F.col("doc_id").alias("ad"), F.col("url").alias("src_url"))
    b = urls.select(F.col("doc_id").alias("bd"), F.col("url").alias("dst_url"))
    chain = (
        a.join(b, F.col("bd") == F.col("ad") + 1)
        .where(F.pmod(F.col("ad"), F.lit(4)) < 3)
        .select("src_url", "dst_url")
    )
    cyc = (
        a.join(b, F.col("bd") == F.col("ad") - 3)
        .where(F.pmod(F.col("ad"), F.lit(8)) == 7)
        .select("src_url", "dst_url")
    )
    resolved = resolve_redirects(kept, chain.unionByName(cyc), max_hops=8)
    targets = (
        resolved.where(F.col("resolved"))
        .select("source", "final_url")
        .distinct()
    )
    w = Window.partitionBy("source").orderBy("final_url")
    h32 = F.conv(
        F.substring(F.md5(F.col("final_url")), 1, 8), 16, 10
    ).cast("long")
    frontier = (
        targets.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= 5)
    )
    cand = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_candidates")
    )
    targ = targets.groupBy("source").agg(F.count(F.lit(1)).alias("n_targets"))
    fron = frontier.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_frontier"),
        F.sum(h32).alias("frontier_checksum"),
    )
    return (
        cand.join(targ, "source", "left")
        .join(fron, "source", "left")
        .select(
            "source",
            "n_candidates",
            F.coalesce("n_targets", F.lit(0)).cast("long").alias("n_targets"),
            F.coalesce("n_frontier", F.lit(0)).cast("long").alias("n_frontier"),
            F.coalesce("frontier_checksum", F.lit(0)).cast("long").alias(
                "frontier_checksum"
            ),
        )
        .orderBy("source")
    )


ORACLE_CRAWL_FRONTIER_PLAN = r"""
WITH robots AS (
  SELECT source,
         CASE WHEN ascii(substr(source, length(source), 1)) % 2 = 0
              THEN '# site robots' || chr(10)
                   || 'User-agent: googlebot' || chr(10)
                   || 'Disallow: /private' || chr(10)
                   || 'User-agent: *' || chr(10)
                   || 'Allow: /articles/public' || chr(10)
                   || 'Disallow: /articles' || chr(10)
                   || 'Disallow: /tmp' || chr(10)
                   || 'User-agent: other' || chr(10)
                   || 'Disallow: /'
              ELSE 'User-agent: *' || chr(10) || 'Disallow:'
         END AS rt
  FROM (SELECT DISTINCT source FROM documents)
),
rules AS (
  SELECT source, lower(z[1]) AS verb, z[2] AS prefix
  FROM (
    SELECT source,
           unnest(flatten(list_transform(
             list_filter(regexp_split_to_array(rt, '(?i)user-agent[ \t]*:'),
                         s -> starts_with(trim(s), '*')),
             s -> list_zip(
               regexp_extract_all(s,
                 '(?im)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^\s#]*)', 1),
               regexp_extract_all(s,
                 '(?im)^[ \t]*(allow|disallow)[ \t]*:[ \t]*([^\s#]*)', 2)
             )))) AS z
    FROM robots
  )
),
u AS (
  SELECT doc_id, source,
         CASE doc_id % 4
           WHEN 0 THEN '/articles/' || CAST(doc_id AS VARCHAR)
           WHEN 1 THEN '/articles/public/' || CAST(doc_id AS VARCHAR)
           WHEN 2 THEN '/tmp/page' || CAST(doc_id AS VARCHAR)
           ELSE '/pages/' || CAST(doc_id AS VARCHAR)
         END AS path
  FROM documents
),
uu AS (
  SELECT doc_id, source, path,
         'https://' || source || '.com' || path AS url
  FROM u
),
decided AS (
  SELECT x.doc_id, x.source, x.url, r.verb,
         row_number() OVER (
           PARTITION BY x.doc_id
           ORDER BY length(r.prefix) DESC,
                    CASE WHEN r.verb = 'allow' THEN 0 ELSE 1 END) AS rn
  FROM uu x LEFT JOIN rules r
    ON x.source = r.source AND r.prefix <> ''
   AND starts_with(x.path, r.prefix)
),
kept AS (
  SELECT doc_id, source, url FROM decided
  WHERE rn = 1 AND (verb IS NULL OR verb = 'allow')
),
red AS (
  SELECT a.url AS src_url, b.url AS dst_url
  FROM uu a JOIN uu b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 4 < 3
  UNION ALL
  SELECT a.url, b.url
  FROM uu a JOIN uu b ON b.doc_id = a.doc_id - 3
  WHERE a.doc_id % 8 = 7
),
r1 AS MATERIALIZED (
  SELECT src_url AS s, min(dst_url) AS d FROM red GROUP BY src_url
),
pts AS (SELECT s AS pu FROM r1 UNION SELECT d FROM r1),
p0 AS MATERIALIZED (
  SELECT pu, coalesce(r1.d, pu) AS nxt FROM pts LEFT JOIN r1 ON pu = r1.s
),
p1 AS MATERIALIZED (
  SELECT a.pu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p0 a LEFT JOIN p0 b ON a.nxt = b.pu
),
p2 AS MATERIALIZED (
  SELECT a.pu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p1 a LEFT JOIN p1 b ON a.nxt = b.pu
),
p3 AS MATERIALIZED (
  SELECT a.pu, coalesce(b.nxt, a.nxt) AS nxt
  FROM p2 a LEFT JOIN p2 b ON a.nxt = b.pu
),
fin AS (
  SELECT p3.pu, p3.nxt AS final_url, (r1.s IS NULL) AS resolved
  FROM p3 LEFT JOIN r1 ON p3.nxt = r1.s
),
res AS (
  SELECT k.source,
         coalesce(f.final_url, k.url) AS final_url,
         coalesce(f.resolved, TRUE) AS resolved
  FROM kept k LEFT JOIN fin f ON k.url = f.pu
),
targets AS (SELECT DISTINCT source, final_url FROM res WHERE resolved),
fron AS (
  SELECT source, final_url,
         row_number() OVER (PARTITION BY source ORDER BY final_url) AS rn
  FROM targets
),
cand AS (SELECT source, CAST(count(*) AS BIGINT) AS n_candidates
         FROM kept GROUP BY source),
targ AS (SELECT source, CAST(count(*) AS BIGINT) AS n_targets
         FROM targets GROUP BY source),
fr AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_frontier,
         CAST(sum({_H32_FRONT}) AS BIGINT) AS frontier_checksum
  FROM fron WHERE rn <= 5 GROUP BY source
)
SELECT c.source, c.n_candidates,
       CAST(coalesce(t.n_targets, 0) AS BIGINT) AS n_targets,
       CAST(coalesce(f.n_frontier, 0) AS BIGINT) AS n_frontier,
       CAST(coalesce(f.frontier_checksum, 0) AS BIGINT) AS frontier_checksum
FROM cand c
LEFT JOIN targ t ON c.source = t.source
LEFT JOIN fr f ON c.source = f.source
ORDER BY c.source
""".replace("{_H32_FRONT}", _oracle_hash32("final_url"))
