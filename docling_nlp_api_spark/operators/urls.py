"""URL / domain plane — the provenance-side filters every web-scale
corpus pipeline runs before touching document text (C4's blocklist
filtering, RefinedWeb's URL dedup + domain-level curation):
normalization, component parsing, registrable-domain extraction,
domain-level rollups, and domain-blocklist filtering.

The reference has a path-exclusion predicate (F3) but no URL semantics;
this plane supplies the rest of the provenance stack a 10^12-doc crawl
needs. The synthetic corpus has no URL column, so the catalog entries
run over a deterministic doc_id-derived augmentation (the pii.py
pattern), mirrored literally in the DuckDB oracles; planted pytests pin
the raw ops on hand-built URLs.

Engine notes:
- Everything here is regexp/string column algebra — JVM-side,
  whole-stage-codegen, zero shuffle, zero Python. At 100 TB the
  normalize+parse pass fuses into the scan that already reads the URL
  column; the domain rollup is one partial-agg on a low-cardinality key
  (domains are ~10^7 even when docs are 10^12, so the agg output is
  dim-table-sized); the blocklist is a broadcast join by construction.
- Patterns live in the Java-regex ∩ RE2 subset (no lookaround, no
  backrefs) so DuckDB binds identical semantics; replacement strings are
  written per-engine ($1 vs \\1) but reference the same groups.
- Registrable-domain extraction uses a compact two-level-suffix table
  (co.uk-style) instead of the full Public Suffix List: the PSL is a
  ~10k-row broadcast lookup in production — the plan shape (broadcast
  map-side lookup) is identical, only the table is abbreviated here.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Java ∩ RE2 subset; keep in sync with the SQL strings in catalog.py
SCHEME_HOST_RE = r"^[a-zA-Z]+://[^/?#]*"      # scheme + authority (case-folded)
HOST_RE = r"^[a-z]+://([^/:?#]+)"             # host w/o port
TRACKING_RE = r"[?&](utm_[a-z0-9]+|fbclid|ref)=[^&#]*"
DANGLING_AMP_RE = r"^([^?&]*)&"  # first param lost its '?' -> repair
FRAGMENT_RE = r"#.*$"
HTTPS_443_RE = r"^(https://[^/:?#]+):443([/?]|$)"
HTTP_80_RE = r"^(http://[^/:?#]+):80([/?]|$)"
INDEX_HTML_RE = r"/index\.html$"

# abbreviated two-level public-suffix table (see module docstring)
TWO_LEVEL_TLDS = ("co.uk", "com.au", "co.jp", "ac.uk", "com.br")

# the domain blocklist used by the catalog entry (a C4-style curation
# list); literal on both engines
BLOCKLIST = tuple(f"src{k}.io" for k in range(20))


def normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Canonical URL form: lowercase scheme+authority, fragment stripped,
    tracking params (utm_*, fbclid, ref) removed, default ports dropped,
    trailing /index.html collapsed to /. Adds `url_norm`.

    Order matters: the fragment must go before tracking-param removal
    ([^&#] would otherwise leave '#...' glued to a param value), and the
    port strip runs on the already-lowercased authority."""
    u = F.col(url_col)
    u = F.concat(
        F.lower(F.regexp_extract(u, SCHEME_HOST_RE, 0)),
        F.regexp_replace(u, SCHEME_HOST_RE, ""),
    )
    u = F.regexp_replace(u, FRAGMENT_RE, "")
    u = F.regexp_replace(u, TRACKING_RE, "")
    # removing '?utm_…' from '?utm_…&id=7' leaves '&id=7': promote the
    # now-first '&' back to '?' (only fires when no '?' survives — a
    # literal '&' inside a query-less path is already ambiguous per RFC)
    u = F.regexp_replace(u, DANGLING_AMP_RE, "$1?")
    u = F.regexp_replace(u, HTTPS_443_RE, "$1$2")
    u = F.regexp_replace(u, HTTP_80_RE, "$1$2")
    u = F.regexp_replace(u, INDEX_HTML_RE, "/")
    return df.withColumn("url_norm", u)


def parse(df: DataFrame) -> DataFrame:
    """Component extraction over `url_norm`: host (port excluded) and the
    registrable domain (last two labels, or three when the two-label
    suffix is a known two-level TLD — the PSL rule in miniature)."""
    host = F.regexp_extract(F.col("url_norm"), HOST_RE, 1)
    out = df.withColumn("host", host)
    parts = F.split(F.col("host"), r"\.")
    n = F.size(parts)
    last2 = F.concat_ws(".", F.element_at(parts, -2), F.element_at(parts, -1))
    last3 = F.concat_ws(
        ".", F.element_at(parts, -3), F.element_at(parts, -2), F.element_at(parts, -1)
    )
    domain = F.when((n >= 3) & last2.isin(*TWO_LEVEL_TLDS), last3).otherwise(last2)
    return out.withColumn("domain", domain)


def parse_normalize(df: DataFrame, url_col: str = "url") -> DataFrame:
    """The full provenance projection: (doc_id, url_norm, host, domain).
    One codegen'd map pass, zero shuffle."""
    return parse(normalize(df, url_col)).select("doc_id", "url_norm", "host", "domain")


def domain_rollup(parsed: DataFrame) -> DataFrame:
    """RefinedWeb-style domain curation input: per registrable domain the
    doc count, distinct hosts, distinct languages, and mean doc length.
    One partial-agg shuffle keyed on domain (output is dim-table-sized —
    this table is what a curation pass joins BACK to the corpus as a
    broadcast to boost/block whole domains)."""
    return parsed.groupBy("domain").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("host").alias("n_hosts"),
        F.countDistinct("lang").alias("n_langs"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


def blocklist_filter(parsed: DataFrame, blocked: tuple[str, ...] = BLOCKLIST) -> DataFrame:
    """The production form: broadcast anti-join against the blocklist —
    docs from blocked domains never survive the filter. The blocklist is
    a tiny dim (even the full PSL + curation lists are ~10^5 rows)."""
    bl = parsed.sparkSession.createDataFrame([(b,) for b in blocked], "domain string")
    return parsed.join(F.broadcast(bl), "domain", "left_anti")


def blocklist_summary(parsed: DataFrame, blocked: tuple[str, ...] = BLOCKLIST) -> DataFrame:
    """Audit form of the same filter (what a pipeline logs per snapshot):
    kept/blocked doc counts + distinct blocked domains, via the
    broadcast LEFT join sibling of the anti-join so one pass yields both
    sides. blocklist_filter is the materializing twin; the pytest pins
    kept == blocklist_filter().count()."""
    bl = parsed.sparkSession.createDataFrame([(b,) for b in blocked], "domain string")
    j = parsed.join(F.broadcast(bl.withColumn("b", F.lit(1))), "domain", "left")
    return j.agg(
        F.sum(F.when(F.col("b").isNull(), 1).otherwise(0)).alias("n_kept"),
        F.sum(F.when(F.col("b").isNotNull(), 1).otherwise(0)).alias("n_blocked"),
        F.countDistinct(F.when(F.col("b").isNotNull(), F.col("domain"))).alias(
            "n_domains_blocked"
        ),
    )
