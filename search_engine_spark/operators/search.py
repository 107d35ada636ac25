"""Query language: parse, site host, pagination.

Reference semantics (SURVEY §2.6-2.7, §7.4), executed over the disk
index by ``wand.search_segments``:

- query parse (query_preprocess.go:14-34): space-split; ``-x`` → NOT,
  ``site:x`` → site filter (first wins), else AND keyword.
- per keyword: all its distinct bigram tokens must appear in a doc (J1,
  the leapfrog intersection, search.go:215-238).
- TF-IDF (search.go:419-429): S = Σ_t (1+ln tf_t)·ln(N/df_t) over the
  keyword's distinct tokens, tf = combined title+body occurrences.
- phrase count per field (search.go:278-339) = |∩_j (positions_f(t_j) − b_j)|
  over every query-token occurrence j; boost B_f = 3+ln(pc_f) if pc_f>0
  (search.go:254-257); title pass ×3 (search.go:258-260);
  Score = 3·S·B_title + S·B_body (search.go:248-267).
- multi-keyword AND keeps the FIRST keyword's items/scores — the *intended*
  semantics of search.go:58-84 (the reference has an off-by-variable bug at
  search.go:83, documented divergence SURVEY §7.4.4).
- NOT = anti join (search.go:87-100); site = host-suffix filter
  (search.go:240-246, ``host_of``).
- candidates truncated to the 50 lowest docIds (engine.go:65) BEFORE the
  score sort; final order score desc with doc_id asc tiebreak — the
  reference's sort is unstable (web/service/search.go:193), the tiebreak is
  our determinism fix (SURVEY §7.4.4b).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

PAGE_SIZE = 10  # web/service/search.go:168


@dataclass
class ParsedQuery:
    keywords: list[str] = field(default_factory=list)
    exclusions: list[str] = field(default_factory=list)
    site: str = ""


def has_illegal_keywords(query: str, blocked: list[str] | None = None) -> bool:
    """Driver-side blocked-substring gate (web/service/search.go:48-57).

    The reference refreshes ``blocked`` from a MySQL config table every
    few seconds (base.go:46-60); here it's a plain list the caller loads
    from whatever config store backs the deployment."""
    if not blocked:
        return False
    return any(k in query for k in blocked)


def parse_query(query: str) -> ParsedQuery:
    """query_preprocess.go:14-34, exactly."""
    pq = ParsedQuery()
    for fragment in query.split(" "):
        if not fragment:
            continue
        if fragment.startswith("-"):
            pq.exclusions.append(fragment[1:])
        elif fragment.startswith("site:"):
            if not pq.site:
                pq.site = fragment[5:]
        else:
            pq.keywords.append(fragment)
    return pq


def host_of(url: Column) -> Column:
    """Host of a URL, matching the reference's util.UrlToHost
    (util.go:34-44): authority between ``scheme://`` and the first ``/``,
    with everything after the LAST ``:`` (the port) stripped. Deliberate
    divergence (documented, SURVEY §7.4.4): a bare scheme-less value is
    treated as a host (Go's url.Parse gives Host="" there, which would
    make ``site:`` match nothing on non-URL corpus ids)."""
    host = F.regexp_extract(url, r"^(?:[A-Za-z][A-Za-z0-9+.-]*://)?([^/]*)", 1)
    return F.regexp_replace(host, r":[^:]*$", "")


def paginate(ranked: DataFrame, pn: int) -> DataFrame:
    """web/service/search.go:165-203: page pn in 1..10, 10 items/page."""
    pn = max(1, min(10, pn))
    lo, hi = (pn - 1) * PAGE_SIZE, pn * PAGE_SIZE
    return ranked.filter((F.col("rank") > lo) & (F.col("rank") <= hi))
