"""URL canonicalization + domain filtering: the crawl-curation stage
between ingest and dedup — "same page, different URL string" collapses
(tracking params, default ports, case-variant hosts, sloppy slashes)
and blocklisted domains drop before any expensive text work.

Everything here is pure JVM column expressions — parse_url,
higher-order array functions, regexp — inside whole-stage codegen. No
Python executes per row, so these run at scan speed on 100 TB and
normalization composes with exact dedup as a plain groupBy on the
normalized column.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# query parameters that identify a click, not a page (C4/CC-style screen)
TRACKING_PARAMS = r"^(utm_[^=]*|fbclid|gclid|msclkid|ref|mc_eid)(=|$)"

# Driver-broadcast ceiling for blocklist/robots artifacts. A UT1-class
# blocklist (~4M short domains) and a polite crawl's robots cache both fit
# comfortably; a 100 TB crawl's full robots table (tens of millions of
# hosts × multi-KB robots.txt) does NOT — collecting it would materialize
# gigabytes on the driver. Above the ceiling the operators switch to an
# equivalent join plan (shuffle-on-host instead of driver ingress).
_BROADCAST_MAX_BYTES = 64 << 20
_BROADCAST_MAX_ROWS = 2_000_000


def _driver_sized(df: DataFrame, max_rows: int | None = None) -> bool:
    """True when ``df`` is safe to collect+broadcast. By default Catalyst's
    size estimate decides when it is known; in-memory frames report
    unknown (huge) stats, so those fall back to a bounded limit-count
    probe — reading at most max_rows+1 rows, never the whole table. An
    EXPLICIT max_rows forces the row probe (deterministic for tests and
    for callers that know their row budget)."""
    from fermor_spark.session import estimated_plan_bytes

    if max_rows is None:
        est = estimated_plan_bytes(df)
        if est < (1 << 61):
            return est <= _BROADCAST_MAX_BYTES
        max_rows = _BROADCAST_MAX_ROWS
    return df.limit(max_rows + 1).count() <= max_rows


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
                  out_col: str = "kept",
                  max_broadcast_rows: int | None = None) -> DataFrame:
    """Append a boolean: False when the host equals a blocked domain or
    sits under one (suffix match on label boundaries).

    ``blocked`` is a Python list/tuple (→ a literal array +
    arrays_overlap, zero joins, whole-stage codegen — the common
    bounded-blocklist case) or a DataFrame with a ``domain`` column.
    A DataFrame blocklist under the driver ceiling (UT1-class) collects
    ONCE, rides a SparkContext broadcast as a Python set, and each Arrow
    batch suffix-tests against it map-side — the 100 TB side never
    shuffles and never joins. ABOVE the ceiling (_driver_sized guards
    the collect) the same answer comes from joins: the DISTINCT host
    set explodes its suffixes against the blocklist, and the resulting
    blocked-host set joins back (AQE broadcasts it when it fits).
    ``max_broadcast_rows`` overrides the row ceiling (tests force the
    join path with it)."""
    import pandas as pd

    host = F.lower(F.col(host_col))
    if isinstance(blocked, (list, tuple)):
        lit = F.array(*[F.lit(str(b).lower()) for b in blocked])
        return df.withColumn(
            out_col,
            F.coalesce(~F.arrays_overlap(_suffixes(host), lit),
                       F.lit(True)))   # null host can't match a blocklist
    if _driver_sized(blocked, max_broadcast_rows):
        dom = [r["domain"].lower() for r in
               blocked.select("domain").distinct().collect()]
        bc = df.sparkSession.sparkContext.broadcast(frozenset(dom))

        def _test(s):
            bl = bc.value
            out = []
            for h in s:
                if h is None:
                    out.append(True)
                    continue
                parts = h.lower().split(".")
                out.append(not any(".".join(parts[i:]) in bl
                                   for i in range(max(1, len(parts) - 1))))
            return pd.Series(out)

        kept = F.pandas_udf(_test, "boolean")
        return df.withColumn(out_col, kept(host))
    # join fallback: same verdicts, shuffle-on-host instead of driver
    # ingress. Hosts dedup first (a crawl repeats hosts heavily), so the
    # explode touches |distinct hosts| × labels rows, not |df|.
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
                  agent: str = "*", out_col: str = "robots_ok",
                  max_broadcast_rows: int | None = None) -> DataFrame:
    """Append the per-URL robots verdict. ``robots_df`` holds (host,
    robots_txt) — one fetched robots.txt per host.

    Under the driver ceiling (_driver_sized guards the collect — a
    polite crawl's robots cache) rules parse ONCE on the driver, ride a
    SparkContext broadcast, and each Arrow batch evaluates map-side
    (host → rules lookup + longest-match walk) — the 100 TB side never
    shuffles. ABOVE the ceiling (a full-crawl robots table of tens of
    millions of hosts would materialize gigabytes on the driver) the
    rules parse DISTRIBUTED into a (host, rules) table and join on
    host — same verdicts, shuffle-on-host instead of driver ingress.
    Hosts with no robots.txt allow everything either way.
    ``max_broadcast_rows`` overrides the ceiling (tests force the join
    path with it).

    The returned DataFrame carries ``robots_path`` ("broadcast"|"join")
    — per-call leg telemetry, safe under concurrent plan construction.
    It is a plain Python attribute, NOT plan metadata: read
    it on the returned object BEFORE any further transformation (every
    .select/.where returns a fresh DataFrame without it)."""
    import pandas as pd

    u = F.col(url_col)
    host = F.lower(_part(u, "HOST"))
    path = F.coalesce(_part(u, "PATH"), F.lit("/"))

    if _driver_sized(robots_df, max_broadcast_rows):
        fetched = robots_df.select(F.lower(F.col("host")).alias("h"),
                                   F.col("robots_txt")).collect()
        rules = {r["h"]: parse_robots(r["robots_txt"] or "", agent)
                 for r in fetched}
        bc = df.sparkSession.sparkContext.broadcast(rules)

        def _verdict(hosts, paths):
            table = bc.value
            out = []
            for h, p in zip(hosts, paths):
                r = table.get(h) if h is not None else None
                out.append(True if not r else robots_allowed(p or "/", r))
            return pd.Series(out)

        verdict = F.pandas_udf(_verdict, "boolean")
        out = df.withColumn(out_col, verdict(host, path))
        out.robots_path = "broadcast"
        return out

    # join fallback: parse every robots.txt where it lives (one Arrow
    # pass, no shuffle), join the (host, rules) table on host. The rules
    # arrays are small per host; only hosts that appear in df's partition
    # keys move.
    def _parse(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "h": pdf["host"].str.lower(),
                "rules": [[{"allow": a, "pattern": p}
                           for a, p in parse_robots(t or "", agent)]
                          for t in pdf["robots_txt"]],
            })

    parsed = (robots_df.select("host", "robots_txt")
              .mapInPandas(_parse,
                           "h string, "
                           "rules array<struct<allow:boolean,pattern:string>>")
              .dropDuplicates(["h"]))
    joined = df.withColumn("_rk", host).withColumn("_rp", path).join(
        parsed, F.col("_rk") == F.col("h"), "left")

    def _verdict_joined(paths, rules):
        out = []
        for p, r in zip(paths, rules):
            if r is None or len(r) == 0:
                out.append(True)
            else:
                out.append(robots_allowed(
                    p or "/", [(x["allow"], x["pattern"]) for x in r]))
        return pd.Series(out)

    verdict = F.pandas_udf(_verdict_joined, "boolean")
    out = joined.withColumn(out_col, verdict(F.col("_rp"), F.col("rules"))) \
        .select(*df.columns, out_col)
    out.robots_path = "join"
    return out
