"""URL canonicalization + domain filtering: the crawl-curation stage
between ingest and dedup — "same page, different URL string" collapses
(tracking params, default ports, case-variant hosts, sloppy slashes)
and blocklisted domains drop before any expensive text work.

Normalization and domain filtering are pure JVM column expressions and
joins — parse_url, higher-order array functions, regexp — inside
whole-stage codegen. No Python executes per row, so they run at scan
speed on 100 TB and normalization composes with exact dedup as a plain
groupBy on the normalized column. The robots.txt gate's rule walk is
the one Python pass (a pandas UDF above its host join).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that identify a click, not a page (C4/CC-style screen)
TRACKING_PARAMS = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_eid)(=|$)"


def _part(col: Column, what: str) -> Column:
    return F.parse_url(col, F.lit(what))


def url_normalize(df: DataFrame, col: str = "url",
                  out_col: str = "norm_url",
                  drop_params: str = TRACKING_PARAMS) -> DataFrame:
    """Append the canonical form of a URL column:

    - scheme and host lowercase (path stays case-sensitive)
    - default ports stripped (http:80, https:443); others kept
    - repeated slashes in the path collapse, one trailing slash strips
      (the root path stays "/"); an empty path becomes "/"
    - query parameters matching ``drop_params`` (tracking ids) drop,
      remaining params keep their ORDER (reordering would merge
      genuinely different urls on servers that care); an emptied query
      drops its "?"
    - the fragment is always dropped (never sent to the server)

    Malformed URLs (no scheme/host parse) yield null, so downstream
    filters see them explicitly rather than as accidental singletons."""
    u = F.col(col)
    scheme = F.lower(_part(u, "PROTOCOL"))
    host = F.lower(_part(u, "HOST"))
    port = F.regexp_extract(_part(u, "AUTHORITY"), r":(\d+)$", 1)
    port_norm = F.when(
        (port == "") | ((scheme == "http") & (port == "80"))
        | ((scheme == "https") & (port == "443")), F.lit("")
    ).otherwise(F.concat(F.lit(":"), port))
    path = F.regexp_replace(F.coalesce(_part(u, "PATH"), F.lit("/")),
                            "/{2,}", "/")
    path = F.regexp_replace(path, "(.)/$", "$1")
    path = F.when(path == "", "/").otherwise(path)
    q = F.filter(
        F.split(F.coalesce(_part(u, "QUERY"), F.lit("")), "&"),
        lambda p: (p != "") & ~p.rlike(drop_params))
    qpart = F.when(F.size(q) > 0,
                   F.concat(F.lit("?"), F.array_join(q, "&"))
                   ).otherwise(F.lit(""))
    norm = F.when(
        scheme.isNotNull() & host.isNotNull() & (host != ""),
        F.concat(scheme, F.lit("://"), host, port_norm, path, qpart))
    return df.withColumn(out_col, norm)


def url_host(df: DataFrame, col: str = "url",
             out_col: str = "host") -> DataFrame:
    """Append the lowercased host of a URL column."""
    return df.withColumn(out_col, F.lower(_part(F.col(col), "HOST")))


def _suffixes(host: Column) -> Column:
    """All dot-suffixes of a host with >= 2 labels, e.g.
    a.b.example.com -> [a.b.example.com, b.example.com, example.com] —
    the candidate set a domain blocklist matches against. A single-label
    host yields just itself."""
    labels = F.split(host, r"\.")
    n = F.size(labels)
    return F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.array_join(F.slice(labels, i, n - i + 1), "."))


def domain_filter(df: DataFrame, host_col: str, blocked,
                  out_col: str = "kept") -> DataFrame:
    """Append a boolean: False when the host equals a blocked domain or
    sits under one (suffix match on label boundaries).

    ``blocked`` is a Python list/tuple (→ a literal array +
    arrays_overlap, zero joins, whole-stage codegen — the common
    bounded-blocklist case) or a DataFrame with a ``domain`` column.
    A DataFrame blocklist matches by joins, all in the JVM: the DISTINCT
    host set explodes its suffixes against the blocklist, and the
    resulting blocked-host set joins back. The planner picks each join's
    strategy from statistics (a UT1-class blocklist broadcasts)."""
    host = F.lower(F.col(host_col))
    if isinstance(blocked, (list, tuple)):
        lit = F.array(*[F.lit(str(b).lower()) for b in blocked])
        return df.withColumn(
            out_col,
            F.coalesce(~F.arrays_overlap(_suffixes(host), lit),
                       F.lit(True)))   # null host can't match a blocklist
    # Hosts dedup first (a crawl repeats hosts heavily), so the explode
    # touches |distinct hosts| × labels rows, not |df|.
    hosts = (df.select(host.alias("_h"))
             .where(F.col("_h").isNotNull()).distinct())
    blocked_hosts = (
        hosts.select("_h", F.explode(_suffixes(F.col("_h"))).alias("_sfx"))
        .join(blocked.select(F.lower(F.col("domain")).alias("_sfx"))
              .distinct(), "_sfx", "left_semi")
        .select("_h").distinct()
        .withColumn("_blocked", F.lit(True)))
    return (df.join(blocked_hosts, host == F.col("_h"), "left")
            .select(*df.columns, F.col("_blocked").isNull().alias(out_col)))


# --------------------------------------------------------------------------
# robots.txt (RFC 9309 Robots Exclusion Protocol): the politeness gate a
# crawler-derived corpus applies per host before keeping a page —
# complements the per-page robots-meta noindex that pipeline.html
# extracts. Rule evaluation is longest-match with allow winning ties,
# '*' wildcards and '$' end anchors, and percent-encoding equivalence
# (RFC 9309 §2.2.2: encoded and unencoded US-ASCII octets compare
# equal, except %2F which stays a distinct octet from a literal '/').
# Honest scope: exact (case-insensitive) product-token group match with
# '*' fallback, merged duplicate groups.


def _pct_decode(s: str) -> str:
    """Percent-decode for robots path comparison, scoped to US-ASCII
    exactly as RFC 9309 §2.2.2 states the equivalence: %XX octets with
    XX < 0x80 decode EXCEPT %2F — an encoded slash is a data octet, not
    a path separator, and must not compare equal to '/'. Octets %80-%FF
    are OUTSIDE the RFC's decode scope and stay escape text,
    canonicalized to uppercase hex; _pct_encode_non_ascii then maps RAW
    non-ASCII characters to the same canonical escapes, so both
    spellings of a non-ASCII octet sequence compare equal (the behavior
    of mainstream matchers, which percent-encode the URL before
    matching). %2F is canonicalized the same way. Invalid escapes pass
    through as literal text."""
    out = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c == "%" and i + 3 <= n:
            hx = s[i + 1:i + 3]
            # strict two-hex-digit parse: int(x, 16) accepts whitespace
            # padding ('0 ' -> 0) and sign characters, which would turn
            # malformed escapes like '%0 ' into control octets
            if all(ch in "0123456789abcdefABCDEF" for ch in hx):
                v = int(hx, 16)
            else:
                out.append(c)
                i += 1
                continue
            if v == 0x2F or v >= 0x80:
                out.append("%" + hx.upper())
            else:
                out.append(chr(v))
            i += 3
            continue
        out.append(c)
        i += 1
    return "".join(out)


def _pct_encode_non_ascii(s: str) -> str:
    """Canonicalize RAW non-ASCII characters to uppercase UTF-8 percent
    escapes — the same form _pct_decode leaves %80-%FF escapes in — so
    a %C3%A9 pattern matches a raw 'é' path and vice versa (mainstream
    robots matchers percent-encode the URL before matching; a
    single-octet %E9 correctly does NOT match the two-octet raw UTF-8
    character)."""
    if s.isascii():
        return s
    return "".join(
        c if ord(c) < 0x80 else
        "".join(f"%{b:02X}" for b in c.encode("utf-8"))
        for c in s)


def parse_robots(text: str, agent: str = "*") -> list[tuple[bool, str]]:
    """robots.txt → the (allow, pattern) rules of the group that governs
    ``agent``: the group(s) named with the exact product token
    (case-insensitive) when present, else the '*' group(s). Rules with
    empty patterns are ignored per the RFC (an empty Disallow allows
    everything)."""
    groups: dict = {}
    current: list = []
    last_was_rule = True
    for raw in text.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, val = line.partition(":")
        key = key.strip().lower()
        val = val.strip()
        if key == "user-agent":
            if last_was_rule:
                current = []
            current.append(val.lower())
            last_was_rule = False
        elif key in ("allow", "disallow"):
            last_was_rule = True
            if not val:
                continue
            for a in current:
                groups.setdefault(a, []).append((key == "allow", val))
        else:
            last_was_rule = True
    return groups.get(agent.lower(), groups.get("*", []))


def _robots_match_len(pattern: str, path: str) -> int:
    """Octet length of ``pattern`` when it matches ``path`` (prefix
    semantics, '*' wildcard, '$' end anchor, percent-encoding
    equivalence), else -1. Wildcards and anchors are recognized on the
    RAW pattern first — an encoded %2A/%24 is a literal '*'/'$' octet,
    never a metacharacter — then both the literal segments and the path
    percent-decode (except %2F) so encoded and unencoded spellings of
    the same octet match. Match length is measured on the decoded
    pattern, keeping longest-match precedence spelling-independent."""
    anchored = pattern.endswith("$")
    if anchored:
        pattern = pattern[:-1]
    parts = [_pct_encode_non_ascii(_pct_decode(seg))
             for seg in pattern.split("*")]
    path = _pct_encode_non_ascii(_pct_decode(path))
    pattern = "*".join(parts)

    def rec(pos: int, pi: int) -> int:
        if pi == len(parts):
            return pos
        seg = parts[pi]
        if pi == 0:
            if not path.startswith(seg, pos):
                return -1
            return rec(pos + len(seg), 1)
        if seg == "" and pi == len(parts) - 1:
            return len(path)   # trailing '*' consumes the remainder
        i = path.find(seg, pos)
        while i >= 0:
            end = rec(i + len(seg), pi + 1)
            if end >= 0 and (not anchored or pi + 1 < len(parts)
                             or end == len(path)):
                return end
            i = path.find(seg, i + 1)
        return -1

    end = rec(0, 0)
    if end < 0 or (anchored and end != len(path)):
        return -1
    return len(pattern) + (1 if anchored else 0)


def robots_allowed(path: str, rules: list[tuple[bool, str]]) -> bool:
    """RFC 9309 decision: the longest matching rule wins; allow wins a
    length tie; no match → allowed."""
    best_len, best_allow = -1, True
    for allow, pattern in rules:
        ln = _robots_match_len(pattern, path)
        if ln > best_len or (ln == best_len and allow and not best_allow):
            if ln >= 0:
                best_len, best_allow = ln, allow
    return best_allow


def robots_filter(df: DataFrame, url_col: str, robots_df: DataFrame,
                  agent: str = "*", out_col: str = "robots_ok") -> DataFrame:
    """Append the per-URL robots verdict. ``robots_df`` holds (host,
    robots_txt) — one fetched robots.txt per host (a repeated host keeps
    one of its rows).

    The robots table joins on lowercased host, and one pandas UDF maps
    (path, robots_txt) to the verdict, parsing each distinct robots.txt
    once per Arrow batch. The planner picks the join's strategy from
    the robots table's statistics: a polite crawl's robots cache
    broadcasts, a full-crawl table of tens of millions of hosts shuffles
    on host. The verdict reads a column of the join, so it stays above
    the join: a URL dedup before the gate runs before the verdict too.
    The UDF is marked nondeterministic so that a caller's filter on the
    verdict column, with the column kept, does not plan the UDF twice
    (once under the filter, once for the column). The price: no filter
    of the caller passes the verdict's projection, so filter other
    columns before the gate. Null hosts and hosts with no robots.txt
    allow everything."""
    import pandas as pd

    u = F.col(url_col)
    robots = (robots_df.select(F.lower(F.col("host")).alias("_rh"),
                               F.col("robots_txt").alias("_rt"))
              .dropDuplicates(["_rh"]))
    joined = df.join(robots, F.lower(_part(u, "HOST")) == F.col("_rh"),
                     "left")

    def _verdict(paths, texts):
        rules = {t: parse_robots(t, agent) for t in set(texts.dropna())}
        return pd.Series([t is None or robots_allowed(p or "/", rules[t])
                          for p, t in zip(paths, texts)])

    verdict = F.pandas_udf(_verdict, "boolean").asNondeterministic()
    return joined.select(*df.columns,
                         verdict(_part(u, "PATH"), "_rt").alias(out_col))
