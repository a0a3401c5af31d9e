"""Triple-pattern queries over the extracted KG — a SPARQL-style basic
graph pattern (BGP) compiler to Catalyst join plans.

The reference emits (subj, pred, obj) pairs and stops
(examples/python/ner.py:93-107); an engine that HOLDS a knowledge graph
must answer conjunctive pattern queries over it. ``match_patterns``
compiles a list of patterns — each a (s, p, o) triple of literals and
``?var`` variables — into a chain of DataFrame joins with natural
variable binding, the classic worst-case-optimal-join-free BGP plan every
triple store starts from.

Plan shape: each pattern is a filtered projection of the triples frame
(literals become pushed-down predicates — they reach the parquet scan);
shared variables become equi-join keys (plain hash joins); patterns with
no shared variable against the accumulated bindings raise instead of
silently cross-joining. Selectivity ordering is the caller's hand-tuning
knob (patterns join left to right); at 100 TB you order most-selective
first and let AQE re-plan sizes — predicates are usually literal, so
per-pattern frames are pred-partition prunable if the triples table is
written partitioned by pred (plans/pipeline materializes stages
partitioned).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_POS = ("subj", "pred", "obj")


def _is_var(term: str) -> bool:
    return isinstance(term, str) and term.startswith("?")


def _pattern_frame(
    triples: DataFrame,
    i: int,
    pat,
    distinct_facts: bool,
    paths: bool = True,
    closure_cache: dict | None = None,
) -> tuple[DataFrame, set[str]]:
    """One pattern -> (projection with variable-named columns, var set).

    With ``paths=True`` a literal predicate ending in ``+`` is a
    property path: the pattern matches the transitive closure of that
    predicate (1..8 hops, see transitive_closure) instead of its direct
    facts — the variables bind to closure endpoints, so
    ``("?a", "contains+", "?c")`` reaches grandchildren. Variable
    predicates cannot take ``+`` (raises). A KG whose predicate NAMES
    end in '+' must pass ``paths=False`` to match them literally.

    Cost note: the closure materializes EAGERLY over the whole predicate
    (iterative-op convention) even when an endpoint is literal — for a
    single-seed reach over a crawl-scale graph use
    webgraph.bfs_depths_integer instead. Repeated path predicates within
    one match_patterns call share one closure via ``closure_cache``."""
    if len(pat) != 3:
        raise ValueError(f"pattern {i} is not a (s, p, o) triple: {pat}")
    p_term = pat[1]
    if isinstance(p_term, str) and _is_var(p_term) and p_term.endswith("+"):
        raise ValueError(
            f"pattern {i}: variable predicates cannot take '+' "
            f"({p_term!r}) — property paths need a literal predicate"
        )
    if (
        paths
        and isinstance(p_term, str)
        and p_term.endswith("+")
        and not _is_var(p_term)
        and len(p_term) > 1
    ):
        # substitute the closure as this pattern's fact set (EAGER — the
        # closure operator materializes, per the iterative-op convention)
        # and fall through: the pred column carries the path literal, so
        # the normal literal-equality filter below is a no-op match
        cache = closure_cache if closure_cache is not None else {}
        if p_term not in cache:
            cache[p_term] = transitive_closure(triples, p_term[:-1])
        frame = cache[p_term].select(
            F.col("src").alias("subj"),
            F.lit(p_term).alias("pred"),
            F.col("dst").alias("obj"),
        )
    else:
        frame = triples
    cols = {}
    for pos, term in zip(_POS, pat):
        if _is_var(term):
            name = term[1:]
            if not name:
                raise ValueError(f"pattern {i}: bare '?' variable")
            if name in cols:
                # repeated variable inside one pattern: equality
                frame = frame.where(F.col(pos) == F.col(cols[name]))
            else:
                cols[name] = pos
        else:
            frame = frame.where(F.col(pos) == F.lit(term))
    if not cols:
        raise ValueError(
            f"pattern {i} has no variables — bare existence checks "
            "aren't bindings; filter the triples frame directly"
        )
    proj = frame.select(
        *[F.col(pos).alias(name) for name, pos in cols.items()]
    )
    if distinct_facts:
        proj = proj.distinct()
    return proj, set(cols)


def match_patterns(
    triples: DataFrame,
    patterns: list[tuple[str, str, str]],
    optional: list[tuple[str, str, str]] | None = None,
    distinct_facts: bool = True,
    paths: bool = True,
) -> DataFrame:
    """Conjunctive triple-pattern match -> one row per variable binding.

    Each pattern term is either a literal (matched exactly) or a
    ``?name`` variable (bound, output as column ``name``). Every string
    that starts with ``?`` is a variable — there is no literal escape,
    so a KG term that itself begins with ``?`` cannot be matched as a
    literal (a bare ``?`` raises); filter such terms with ``.where()``
    on a variable instead. A variable
    repeated WITHIN a pattern constrains positions to be equal; repeated
    ACROSS patterns becomes the join key. ``optional`` patterns carry
    left-join semantics against the REQUIRED block: non-matching
    bindings survive with null columns, and each optional joins on
    required-block variables only — an optional may not reference a
    variable another optional introduced (that would left-join on a
    possibly-null key, which is NOT SPARQL's sequential LeftJoin; the
    compiler raises, promote the link to the required block instead).
    ``distinct_facts=True`` (the default) dedupes each pattern's
    projection first so a fact asserted by many documents binds once —
    provenance queries should pass False and aggregate downstream.
    Value constraints (SPARQL FILTER) are just ``.where()`` on the
    result.

    >>> match_patterns(t, [("?p", "born_in", "?c"),
    ...                    ("?country", "contains", "?c")],
    ...                optional=[("?p", "works_for", "?org")])
    DataFrame[p, c, country, org]
    """
    if not patterns:
        raise ValueError("empty pattern list")
    closure_cache: dict = {}
    bound: DataFrame | None = None
    bound_vars: set[str] = set()
    for i, pat in enumerate(patterns):
        proj, pvars = _pattern_frame(
            triples, i, pat, distinct_facts, paths, closure_cache
        )
        if bound is None:
            bound, bound_vars = proj, pvars
            continue
        shared = sorted(bound_vars & pvars)
        if not shared:
            raise ValueError(
                f"pattern {i} shares no variable with the patterns before "
                "it — reorder the patterns (a cross join is never what a "
                "BGP means)"
            )
        bound = bound.join(proj, shared)
        bound_vars |= pvars
    required_vars = set(bound_vars)
    optional_new: set[str] = set()
    for j, pat in enumerate(optional or []):
        proj, pvars = _pattern_frame(
            triples, j, pat, distinct_facts, paths, closure_cache
        )
        shared = sorted(required_vars & pvars)
        if not shared:
            raise ValueError(
                f"optional pattern {j} shares no variable with the "
                "required block — it would cross-join every binding"
            )
        clash = sorted((pvars - required_vars) & optional_new)
        if clash:
            raise ValueError(
                f"optional pattern {j} references {clash}, introduced by "
                "an earlier optional — left-joining on a possibly-null "
                "key is not SPARQL's sequential LeftJoin; promote the "
                "link to the required block instead"
            )
        bound = bound.join(proj, shared, "left")
        optional_new |= pvars - required_vars
    return bound


def transitive_closure(
    triples: DataFrame,
    pred: str,
    max_depth: int = 8,
) -> DataFrame:
    """SPARQL property-path ``pred+``: all (src, dst, depth) pairs
    reachable through 1..max_depth hops of one predicate, depth = the
    MINIMUM hop count (first discovery wins, classic BFS closure).

    Frontier-delta iteration, not dense re-relaxation: each pass joins
    only the LAST round's new pairs against the edge set and anti-joins
    out pairs already known — cycles terminate naturally because a
    revisited pair produces no new rows, and the loop exits early on an
    empty frontier (one driver-side isEmpty per pass, the stop rule of
    webgraph._iterate's eager lifecycle, whose per-pass localCheckpoint
    doubles as the lineage cut). max_depth bounds the
    worst case; real predicate hierarchies (geo containment, org
    parentage) are single-digit deep.

    Scale shape per pass: frontier ⋈ edges on one key (hash join), a
    distinct on the new pairs, and a co-partitioned anti join against
    the known set. The closure of a DAG-ish hierarchy grows linearly in
    practice; a dense cyclic relation's closure is quadratic — that is a
    property of the answer, not the plan."""
    from mitie_spark.operators.webgraph import _iterate

    e = (
        triples.where(F.col("pred") == F.lit(pred))
        .select(F.col("subj").alias("src"), F.col("obj").alias("dst"))
        .distinct()
    )

    def step(state, i):
        known, frontier = state
        # the last frontier joins the known set only once it is cut, so
        # the accumulated union stays a flat union of checkpointed scans
        # without re-materializing the whole (growing) closure every pass
        known = frontier if known is None else known.union(frontier)
        nxt = (
            frontier.alias("f")
            .join(e.alias("n"), F.col("f.dst") == F.col("n.src"))
            .select(F.col("f.src").alias("src"), F.col("n.dst").alias("dst"))
            .distinct()
            .join(known.select("src", "dst"), ["src", "dst"], "left_anti")
            .withColumn("depth", F.lit(i + 2))
        )
        return known, nxt

    return _iterate(
        [e], (None, e.withColumn("depth", F.lit(1))), step, max_depth - 1, 1,
        lambda s: s[1] if s[0] is None else s[0].union(s[1]),
        until=lambda s, n: n[-1].isEmpty(),
    )
