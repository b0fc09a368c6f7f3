"""Web-text extraction + Python UDTF surface (round 4).

* ``text_html_extract`` — the CommonCrawl-style boilerplate-removal
  step every LLM pretraining pipeline runs: deterministic HTML is
  synthesized around each ``documents`` row (head with script/style,
  nav links, heading, body paragraph, footer links), then the
  extraction chain — script/style excision, tag strip, entity decode,
  whitespace collapse — runs as four codegen ``regexp_replace`` /
  ``replace`` expressions.  The DuckDB oracle replays the identical
  chain (DuckDB needs the explicit ``'gs'`` flags where Spark is
  global-by-default with inline ``(?s)`` — both dialects documented
  in-line).  Link counting uses the replace-length trick (pure string
  arithmetic) so no regex count semantics are in play.
* ``udtf_passage_split`` — Spark 4's **Python UDTF** API (arrow-
  optimized) as the user-extension escape hatch: a table function
  yielding fixed-width word windows per document.  The registry's
  pure-JVM twin of this operator is ``passage_chunks`` — this entry
  exists to keep the UDTF API surface itself under the exact gate
  (schema contract, lateral join semantics, arrow batch path), not to
  move the hot path to Python; the docstring seam is explicit that
  100 TB pipelines use the codegen twin.

Reference anchor: the reference greps/reports over dump text
(runcommand.py report tier); extraction-to-clean-text is the modern
equivalent's front step.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import load_table

# HTML synthesized around each document row — entities included so the
# decode step is exercised (&amp; &lt; &gt; &quot;)
def _html_col():
    return F.concat(
        F.lit('<html><head><title>Doc '),
        F.col("doc_id").cast("string"),
        F.lit('</title><script type="text/javascript">var id='),
        F.col("doc_id").cast("string"),
        F.lit(';\nif (id > 0) { track(id); }</script><style>\n.m{color:red}\n</style></head><body><nav><a href="/">home</a> <a href="/about">&amp; about</a></nav><h1>'),
        F.upper(F.substring(F.col("text"), 1, 20)),
        F.lit('</h1><p>'),
        F.col("text"),
        F.lit(' &quot;quoted&quot; &lt;tag&gt;</p><div class="footer"><a href="/c">contact</a></div></body></html>'),
    )


_HTML_SQL = """
  '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR)
  || '</title><script type="text/javascript">var id='
  || CAST(doc_id AS VARCHAR)
  || ';' || chr(10) || 'if (id > 0) { track(id); }</script><style>'
  || chr(10) || '.m{color:red}' || chr(10)
  || '</style></head><body><nav><a href="/">home</a> <a href="/about">&amp; about</a></nav><h1>'
  || upper(substr(text, 1, 20))
  || '</h1><p>' || text
  || ' &quot;quoted&quot; &lt;tag&gt;</p><div class="footer"><a href="/c">contact</a></div></body></html>'
"""


def q_text_html_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML → clean text extraction (boilerplate removal) as pure
    codegen expressions: excise <script>/<style> blocks (dot-matches-
    newline, non-greedy), strip remaining tags, decode the four basic
    entities (&lt;/&gt;/&quot; before &amp; — the standard order that
    keeps '&amp;lt;' from double-decoding), collapse whitespace.  The
    oracle replays the chain with DuckDB's 'gs' flags (its
    regexp_replace is first-match-only by default — the one dialect
    difference).  Per-doc output: cleaned length, link count (replace-
    length arithmetic), body-preserved flag, and the first 40 cleaned
    chars.  Map-only plan: at 100 TB this runs in the scan stage with
    zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    html = _html_col()
    step1 = F.regexp_replace(html, r"(?s)<script[^>]*>.*?</script>", " ")
    step2 = F.regexp_replace(step1, r"(?s)<style[^>]*>.*?</style>", " ")
    step3 = F.regexp_replace(step2, r"<[^>]+>", " ")
    step4 = F.replace(
        F.replace(
            F.replace(
                F.replace(step3, F.lit("&lt;"), F.lit("<")),
                F.lit("&gt;"),
                F.lit(">"),
            ),
            F.lit("&quot;"),
            F.lit('"'),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    clean = F.trim(F.regexp_replace(step4, r"\s+", " "))
    n_links = (
        (F.length(html) - F.length(F.replace(html, F.lit("<a "), F.lit(""))))
        / 3
    ).cast("long")
    return docs.select(
        "doc_id",
        F.length(clean).alias("n_chars_clean"),
        n_links.alias("n_links"),
        F.col("text").alias("body"),
        clean.alias("clean"),
    ).select(
        "doc_id",
        "n_chars_clean",
        "n_links",
        (F.instr(F.col("clean"), F.col("body")) > 0).alias("body_preserved"),
        F.substring("clean", 1, 40).alias("clean_prefix"),
    )


ORACLE_HTML_EXTRACT = f"""
WITH h AS (
  SELECT doc_id, text, ({_HTML_SQL}) AS html FROM documents
),
cleaned AS (
  SELECT doc_id, text, html,
         trim(regexp_replace(
           replace(replace(replace(replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(html, '<script[^>]*>.*?</script>', ' ', 'gs'),
                 '<style[^>]*>.*?</style>', ' ', 'gs'),
               '<[^>]+>', ' ', 'g'),
             '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&amp;', '&'),
           '\\s+', ' ', 'g')) AS clean
  FROM h
)
SELECT doc_id,
       CAST(length(clean) AS BIGINT) AS n_chars_clean,
       CAST((length(html) - length(replace(html, '<a ', ''))) // 3 AS BIGINT)
         AS n_links,
       strpos(clean, text) > 0 AS body_preserved,
       substr(clean, 1, 40) AS clean_prefix
FROM cleaned
"""


def q_udtf_passage_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 Python UDTF (arrow-optimized) under the exact gate: a
    LATERAL table function yielding 16-word passages per document.

    This entry certifies the UDTF EXTENSION SEAM — the API users reach
    for when an operator truly cannot be expressed in DataFrame algebra
    — not the hot path: the registry's pure-JVM twin (passage_chunks,
    operators/corpus.py) is what a 100 TB pipeline runs.  Arrow batch
    transfer keeps the seam columnar; the lateral join is
    partition-local (no shuffle)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="seq int, passage string, n_words int", useArrow=True)
    class PassageSplit:
        def eval(self, text: str):
            words = (text or "").split(" ")
            width = 16
            for i in range(0, len(words), width):
                chunk = words[i : i + width]
                yield i // width, " ".join(chunk), len(chunk)

    spark.udtf.register("passage_split", PassageSplit)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, s.seq, s.passage, s.n_words
        FROM documents_udtf d, LATERAL passage_split(d.text) s
        """
    )


ORACLE_UDTF_SPLIT = """
WITH words AS (
  SELECT doc_id, string_split(text, ' ') AS ws FROM documents
),
idx AS (
  SELECT doc_id, ws,
         CAST(unnest(range(0, (len(ws) - 1) // 16 + 1)) AS INTEGER) AS seq
  FROM words
)
SELECT doc_id, seq,
       array_to_string(list_slice(ws, seq * 16 + 1, seq * 16 + 16), ' ')
         AS passage,
       CAST(least(16, len(ws) - seq * 16) AS INTEGER) AS n_words
FROM idx
"""


REGISTRY = (
    (q_text_html_extract, ORACLE_HTML_EXTRACT),
    (q_udtf_passage_split, ORACLE_UDTF_SPLIT),
)
