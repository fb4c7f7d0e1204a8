"""SPARQL-lite basic-graph-pattern queries over the KG edge table.

A knowledge graph you can only build but not QUERY is half a product:
the reference's consumers read its triples back by pattern ("which
(subj, rel, obj) match ?x <born_in> ?y, ?y <in_country> <Q30>?"). This
module implements the SPARQL fragment that covers that workload — a
conjunctive basic graph pattern (BGP) with simple FILTERs — compiled to
DataFrame equi-joins so Catalyst/AQE owns the physical plan.

Grammar (the documented subset, parsed by :func:`parse_bgp`)::

    SELECT [DISTINCT] ?v1 ?v2 ... | * | (COUNT(*|?v) AS ?n) | (MIN/
           MAX/SUM/AVG/SAMPLE(?v) AS ?x) | (COUNT(DISTINCT ?v) AS ?n)
           -- SAMPLE picks the MIN member (SPARQL leaves the pick
           -- arbitrary; a distributed engine must be deterministic)
           | (GROUP_CONCAT([DISTINCT] ?v [; SEPARATOR="|"]) AS ?s) ...
           -- GROUP_CONCAT joins values SORTED (deterministic; SPARQL
           -- leaves the order undefined, a distributed engine must not)
    WHERE {
        term <rel> term .            # triple pattern; term = ?var,
        ...                          #   <iri/string> or a number
        term <a>/^<b>/<c> term .     # property path in the predicate
        ...                          #   slot: sequence (/) of constant
        ...                          #   steps, each optionally inverted
        ...                          #   (^) — desugared at parse time
        term <a>+ term .             # path modifiers on a step: + (one
        term <a>*/<b> term .         #   or more), * (zero or more),
        term ^(<a>|<b>)? term .      #   ? (zero or one) — compiled to a
        ...                          #   path-doubling closure of that
        ...                          #   predicate's edge set
        term (<a>/<b>)+ term .       # modifier on a sequence GROUP
        term ^(<a>/!<b>)* term .     #   (one nesting level): the
        ...                          #   closure base is the COMPOSITION
        ...                          #   of the substeps' edge sets;
        ...                          #   ^(a/b) == ^b/^a; a group with
        ...                          #   no modifier is plain sequence
        ...                          #   sugar and flattens at parse
        term (<a>|<b>) term .        # predicate alternation: a step (or
        ...                          #   the whole predicate) may be a
        ...                          #   |-group of constant IRIs; also
        ...                          #   valid per step inside a path,
        ...                          #   e.g. ^(<a>|<b>)/<c>
        term !<a> term .             # negated property set: matches any
        term !(<a>|<b>) term .       #   edge whose predicate is NOT a
        ...                          #   member — one scan-pushed
        ...                          #   Not(In); composable with ^ and
        ...                          #   as a step of a /-path (the
        ...                          #   inverse-member form !^<a> is
        ...                          #   outside the subset)
        { SELECT ... WHERE { ... } [GROUP BY/HAVING/ORDER/LIMIT] }
        ...                          # subquery: solved bottom-up as a
        ...                          #   full query, inner-joined to the
        ...                          #   outer solution on its shared
        ...                          #   projected variables (must share
        ...                          #   >= 1 var; not inside UNION)
        FILTER(?x != ?y) FILTER(?x < 42) ...
        FILTER(STRSTARTS(?x, "pre")) FILTER(STRENDS(?x, "suf"))
        FILTER(CONTAINS(?x, "mid")) FILTER(REGEX(?x, "pat")) ...
        OPTIONAL { patterns... FILTER(...) }   # left-join group; its
        ...                          # filters may only use group vars
        FILTER NOT EXISTS { patterns... FILTER(...) }  # anti-join group
        MINUS { patterns... FILTER(...) }              # same (see below)
        FILTER EXISTS { patterns... FILTER(...) }      # semi-join group
        VALUES ?x { <a> <b> ... }                      # inline binding
        VALUES (?x ?y) { (<a> 1) (<b> 2) ... }         #   restriction
        BIND(?a + 1 AS ?b)           # computed column: ONE binary
        BIND(CONCAT(?a, "-", ?c) AS ?k)  #   + - * / op, CONCAT, or a
        BIND(STRLEN(?a) AS ?n)       #   single-arg STRLEN/UCASE/LCASE/
        ...                          #   ABS over required-bound vars and
        ...                          #   earlier BINDs; chain BINDs for
        ...                          #   deeper expressions (no operator
        ...                          #   precedence to get wrong)
    }
    [GROUP BY ?v ...]     -- explicit group keys; plain SELECT vars must
                          -- all be keys (default: implicit grouping on
                          -- the plain SELECT variables)
    [HAVING(AGG(?v) op literal) ...]
    [ORDER BY ?v | ASC(?v) | DESC(?v) ...] [LIMIT n] [OFFSET n]
    -- OFFSET requires ORDER BY (a page over an unordered multiset is
    -- partition-order-dependent on a distributed engine — refused)

    -- or a whole-body union (branches are pattern+FILTER groups;
    -- OPTIONAL inside a branch is outside the subset):
    WHERE { { patterns... FILTER(...) } UNION { ... } UNION { ... } }

    -- other query forms (same WHERE subset):
    CONSTRUCT { plain template triples } WHERE { ... }   # :func:`construct`
    ASK { patterns... }                                  # :func:`ask`
    DESCRIBE <iri> ... ?v ... [WHERE { ... }]            # :func:`describe`

Terms: ``?name`` is a variable; ``<...>`` is a constant (string-typed,
matching however the edge table types its nodes/relations after a cast);
a bare integer/float literal is a numeric constant; ``"..."`` a string
constant. The triple's predicate position accepts a variable too
(``?p``), so "what relations hold between x and y" is expressible.

Compilation (:func:`bgp`), and why it scales:

* each pattern becomes a projection of the SAME edges DataFrame —
  constants are pushed as scan-level filters (parquet min/max + dict
  pushdown applies), variables become renamed columns;
* patterns join LEFT-DEEP on their shared variables, most-constant-first
  (a static selectivity heuristic: a pattern with 2 constants binds
  fewer rows than one with none; ties keep author order). Every join is
  an equi-join on bound variables — shuffle-partitioned by Catalyst,
  re-planned by AQE (skew-join salting included) at runtime;
* a pattern sharing NO variable with what's bound so far is a cross
  product — refused loudly (``allow_product=True`` opts in, for the
  rare star-count use), because at 100 TB an accidental cartesian is an
  outage, not a slow query;
* FILTERs are attached at the EARLIEST point all their variables are
  bound (classic filter pushdown into the join tree), not at the end;
* string-function FILTERs — ``STRSTARTS``/``STRENDS``/``CONTAINS``
  (literal second argument) and ``REGEX`` (Spark ``rlike``, partial
  match like SPARQL's) — compile to the JVM string predicates; a
  STRSTARTS over a scan column reaches parquet as ``StringStartsWith``
  (the namespace-prefix filter of IRI-keyed tables, pruned at the
  scan). REGEX accepts the Java-regex dialect; SPARQL's XPath-regex
  extras (flags argument, ``\\p{Is...}`` blocks) are outside the
  subset;
* each OPTIONAL group is solved like a sub-BGP (its own filters
  pre-filter the optional side) and LEFT-joined to the required
  solution on the shared variables — unmatched rows carry NULLs.
  Top-level filters over optional-only variables are rejected
  (``bound()``/``COALESCE`` three-valued logic is outside the subset);
* SELECT DISTINCT maps to a post-join ``dropDuplicates`` on the
  projection (one extra exchange only when requested);
* a subquery ``{ SELECT ... }`` is solved BOTTOM-UP (SPARQL 1.1 §12) as
  a full query of its own — aggregates, DISTINCT, ORDER BY/LIMIT
  included — and inner-joined to the outer solution on its shared
  projected variables (>= 1 shared var enforced at parse; a
  var-disjoint subquery would be a cartesian). An aggregated subquery
  is group-compact, so AQE picks a broadcast join when it is small —
  the per-group-stat-joined-back-to-rows shape (degree filters, top-k
  group restriction) costs one aggregation exchange plus one usually
  broadcast join. Outer filters over subquery vars apply right after
  the join; subqueries inside UNION bodies are outside the subset;
* aggregate SELECT items turn the query into one ``groupBy`` on the
  plain SELECT variables (SPARQL's implicit grouping for this subset) —
  map-side combinable, so the aggregation adds at most one exchange.
  Output columns are the group keys then the aggregate aliases.
  ``HAVING(AGG(?v) op literal)`` restricts groups after aggregation —
  the re-stated aggregate reuses its SELECT column when one matches,
  otherwise it is computed as a hidden column in the SAME exchange and
  dropped by the final projection (HAVING never costs a second
  shuffle); HAVING with no SELECT aggregates still groups on the
  SELECT variables;
* a sequence property path ``<a>/^<b>/<c>`` desugars AT PARSE TIME into
  a chain of ordinary triple patterns linked by fresh anonymous
  variables (``^`` swaps subject/object for that step), so the join
  planner, filter placement, scan pushdown and cartesian guard all see
  plain patterns — no special executor. Anonymous variables are hidden
  from ``SELECT *``;
* a path step may carry a MODIFIER — ``<a>+`` (one or more), ``<a>*``
  (zero or more), ``<a>?`` (zero or one), also on an alternation group
  and composable with ``^`` and ``/``. A modified step compiles to the
  step's solution PAIR SET instead of a scan: the predicate constant
  filters the scan first (pushed to parquet — the closure runs over one
  predicate's edge set, never the whole table), ``+``/``*`` close the
  pair set EXACTLY by path DOUBLING to a fixpoint (``path_closure``:
  ``log2(diameter)`` eager self-join+distinct rounds through
  ``graph.fixpoint``, the loop ``connected_components`` and ``kcore``
  also run, with a count convergence probe; a path still growing after
  ``CLOSURE_ROUNDS`` rounds raises), and ``*``/``?`` union the
  zero-length pairs (every graph node to itself). Distinct pairs ==
  SPARQL 1.1's connectivity semantics, which is also what terminates on
  cycles. The pair set then joins into the left-deep tree like any
  pattern, ordered after plain patterns of equal constant count (a
  closure is never more selective than its base predicate). Documented
  deviation: zero-length paths range over the GRAPH's node universe, so
  a constant endpoint absent from the graph does not zero-length-match
  itself;
* predicate alternation ``(<a>|<b>)`` — standalone or as one step of a
  sequence path — stays ONE pattern whose predicate constant is the
  member SET, compiled to ``rel IN (...)`` so it pushes to the scan as
  a single ``In`` filter (parquet dictionary/min-max pruning applies)
  instead of a UNION of near-identical scans; inversion applies to the
  whole group (``^(<a>|<b>)``), per-member direction mixing is outside
  the subset. One scan, no union, no extra join — the only alternation
  plan that survives a 100 TB edge table;
* FILTER NOT EXISTS / MINUS groups are solved as sub-BGPs and
  LEFT-ANTI-joined to the required solution on the shared variables —
  Spark's native anti-join (broadcast when the group side is small,
  shuffle otherwise, AQE-planned either way), never a per-row
  subquery. Restrictions that keep the two constructs equivalent in
  this subset (full SPARQL separates them on var-disjoint and
  partially-bound cases): the group must share ≥1 variable with the
  REQUIRED pattern (a var-disjoint negation is refused), group
  filters may reference only group-bound variables, and negation
  applies before OPTIONAL joins (so it never tests optional NULLs);
* FILTER EXISTS is the positive twin: the group is solved as a sub-BGP
  and LEFT-SEMI-joined on the shared variables — existence is tested
  without ever widening or multiplying the required side (a semi-join
  short-circuits on the first match, so a group with thousands of
  solutions per key costs the same as one). Same restrictions as
  negation (shared variable required — a var-disjoint EXISTS is ASK's
  job — group-local filters, runs before OPTIONAL);
* VALUES joins the solution to an inline literal table — compiled as a
  ``broadcast()`` inner join on the VALUES variables (the table is by
  construction driver-small), i.e. a semi-constraint that Catalyst can
  push into the join tree; duplicate VALUES rows are deduplicated (the
  subset treats VALUES as a restriction, not a multiplicity source).
  Restriction: every VALUES variable must be bound by the required
  pattern (VALUES that introduces new bindings / UNDEF is outside the
  subset);
* UNION is bag union: each branch is solved as its own sub-BGP and the
  branches are combined with ``unionByName(allowMissingColumns=True)``
  — a variable a branch never binds comes out NULL on that branch's
  rows (SPARQL's unbound), and no exchange is added (union is a plan
  concatenation; SELECT DISTINCT collapses duplicates as usual).
  Aggregates over a partially-bound variable skip the NULL rows, the
  SQL convention (SPARQL's error-as-unbound is a close cousin);
* ORDER BY + LIMIT compiles to ``orderBy(...).limit(n)``, which Spark
  plans as ``TakeOrderedAndProject`` — per-partition top-k then a k-row
  merge, NO total-sort exchange, the only global-order operator you can
  afford at 100 TB. ORDER BY alone is an honest range-partitioned
  global sort (one exchange). NULL placement is Spark's default:
  ASC puts NULLs first, DESC puts NULLs last (an oracle re-deriving a
  LIMIT query must pin the same placement or the cutoff row differs).

The result column set is exactly the SELECT variables (names without
``?``), making the operator oracle-checkable: the registered
``kg_sparql_bgp`` query re-derives the same BGP as explicit DuckDB SQL
joins over the same synthetic edge set.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepex_spark.operators.graph import count_probe, fixpoint

__all__ = [
    "parse_bgp",
    "bgp",
    "construct",
    "ask",
    "describe",
    "path_closure",
    "BGPQuery",
    "Pattern",
    "Filter",
    "UnionBranch",
]


@dataclass(frozen=True)
class Pattern:
    subj: str | int | float
    pred: str | int | float
    obj: str | int | float
    # which positions are variables (term is the bare var name then)
    subj_var: bool = False
    pred_var: bool = False
    obj_var: bool = False
    # property-path modifier on a CONSTANT predicate (or alternation
    # group): '+' one-or-more, '*' zero-or-more, '?' zero-or-one, None
    # for a plain pattern. A modified pattern compiles to a closure of
    # the predicate's edge set, not a single scan (see _pattern_df).
    pred_mod: str | None = None
    # negated property set: ``!<a>`` / ``!(<a>|<b>)`` — pred holds the
    # member TUPLE (always a tuple, even for one member) and the pattern
    # matches edges whose predicate is NOT in the set, compiled to a
    # scan-pushed Not(In). Anti-selective by construction, so it never
    # counts toward n_constants and sorts late in the join order.
    pred_neg: bool = False
    # sequence GROUP under a modifier — ``(<a>/<b>)+`` — as a tuple of
    # (inverted, negated, iri-or-member-tuple) substeps; the closure
    # base is the COMPOSITION of the substeps' edge sets (pred holds the
    # same tuple, pred_mod the group's modifier). None for everything
    # else (a modifier-less group flattens at parse time).
    pred_seq: tuple | None = None

    def variables(self) -> set:
        out = set()
        if self.subj_var:
            out.add(self.subj)
        if self.pred_var:
            out.add(self.pred)
        if self.obj_var:
            out.add(self.obj)
        return out

    def n_constants(self) -> int:
        n = 3 - len(
            [1 for v in (self.subj_var, self.pred_var, self.obj_var) if v]
        )
        # a negated predicate keeps (almost) the whole table — for join
        # ordering it is no more selective than a predicate variable
        return n - 1 if self.pred_neg else n


@dataclass(frozen=True)
class Filter:
    left: str  # variable name
    op: str  # != = < <= > >=
    right: object  # variable name (right_var) or literal
    right_var: bool

    def variables(self) -> set:
        return {self.left} | ({self.right} if self.right_var else set())


@dataclass
class OptionalGroup:
    patterns: list
    filters: list

    def variables(self) -> set:
        return set().union(*[p.variables() for p in self.patterns])


@dataclass
class UnionBranch:
    patterns: list
    filters: list

    def variables(self) -> set:
        return set().union(*[p.variables() for p in self.patterns])


@dataclass
class NegationGroup:
    patterns: list
    filters: list

    def variables(self) -> set:
        return set().union(*[p.variables() for p in self.patterns])


@dataclass
class ExistsGroup:
    """Positive ``FILTER EXISTS { ... }`` — the semi-join twin of
    NegationGroup: keep a required-side row iff the group has at least
    one solution sharing its variable bindings."""

    patterns: list
    filters: list

    def variables(self) -> set:
        return set().union(*[p.variables() for p in self.patterns])


@dataclass
class ValuesClause:
    variables: list  # var names, in declaration order
    rows: list  # list of tuples, len == len(variables)


@dataclass(frozen=True)
class Bind:
    """``BIND(expr AS ?v)`` — a computed column over required-bound
    variables. ``expr`` is a parsed tree:

    * ``("term", (value, is_var))`` — a bare copy/alias;
    * ``("arith", op, lhs_term, rhs_term)`` — ONE binary + - * / (no
      precedence ambiguity by construction: chain BINDs for more);
    * ``("func", name, [terms])`` — CONCAT(n-ary) or a single-arg
      STRLEN/UCASE/LCASE/ABS.
    """

    var: str
    expr: tuple

    def variables(self) -> set:
        kind = self.expr[0]
        if kind == "term":
            v, is_var = self.expr[1]
            return {v} if is_var else set()
        if kind == "arith":
            out = set()
            for v, is_var in (self.expr[2], self.expr[3]):
                if is_var:
                    out.add(v)
            return out
        return {v for v, is_var in self.expr[2] if is_var}


@dataclass(frozen=True)
class Aggregate:
    func: str  # count | count_distinct | min | max | sum | avg | group_concat[_distinct]
    var: str | None  # None for COUNT(*)
    alias: str
    sep: str = " "  # GROUP_CONCAT separator (SPARQL default: space)


@dataclass(frozen=True)
class Having:
    """``HAVING(AGG(?v) op literal)`` — a post-grouping restriction. The
    aggregate is re-stated (SPARQL style), not alias-referenced; if it
    matches a SELECT aggregate the grouped column is reused, otherwise a
    hidden aggregate is computed and dropped after the filter."""

    func: str  # count | count_distinct | min | max | sum | avg
    var: str | None  # None for COUNT(*)
    op: str  # = != < <= > >=
    value: object  # literal


@dataclass
class BGPQuery:
    select: list  # variable names, or ["*"]
    distinct: bool
    patterns: list = field(default_factory=list)
    filters: list = field(default_factory=list)
    optionals: list = field(default_factory=list)  # OptionalGroup
    aggregates: list = field(default_factory=list)  # Aggregate
    unions: list = field(default_factory=list)  # UnionBranch (whole body)
    negations: list = field(default_factory=list)  # NegationGroup
    exists_groups: list = field(default_factory=list)  # ExistsGroup
    values: list = field(default_factory=list)  # ValuesClause
    binds: list = field(default_factory=list)  # Bind, in source order
    group_by: list = field(default_factory=list)  # explicit group keys
    havings: list = field(default_factory=list)  # Having
    order_by: list = field(default_factory=list)  # (var, descending)
    limit: int | None = None
    offset: int | None = None  # requires order_by
    subqueries: list = field(default_factory=list)  # nested BGPQuery


_TERM = r"""(\?[A-Za-z_][A-Za-z0-9_]*|<[^>]*>|"[^"]*"|-?\d+(?:\.\d+)?)"""
_PATTERN_RE = re.compile(rf"{_TERM}\s+{_TERM}\s+{_TERM}")
# property path in the predicate slot: /-joined constant steps, each
# optionally ^-inverted and either one IRI or a (|...)-alternation group;
# fresh __path{n} vars are reserved for desugaring
_ANON_PREFIX = "__path"
_ALT_GROUP = r"\(\s*<[^>]*>(?:\s*\|\s*<[^>]*>)*\s*\)"
# a sequence GROUP: (step/step/...) of plain steps (each optionally
# ^-inverted, !-negated, IRI or |-alternation — no nested modifiers),
# itself optionally ^-inverted and carrying a +/*/? modifier: the
# one-level path-nesting SPARQL 1.1 composition ``(<a>/<b>)+``. Needs
# >= 2 /-separated members, so it never collides with _ALT_GROUP.
_SIMPLE_STEP = rf"\^?!?(?:<[^>]*>|{_ALT_GROUP})"
_SEQ_GROUP = rf"\(\s*{_SIMPLE_STEP}(?:\s*/\s*{_SIMPLE_STEP})+\s*\)"
_PATH_STEP_RE = re.compile(
    rf"(\^?)(?:(!?)(<[^>]*>|{_ALT_GROUP})|({_SEQ_GROUP}))([+*?]?)"
)
_SIMPLE_STEP_RE = re.compile(rf"(\^?)(!?)(<[^>]*>|{_ALT_GROUP})")
_PATH_STEP = rf"\^?(?:!?(?:<[^>]*>|{_ALT_GROUP})|{_SEQ_GROUP})[+*?]?"
_PATTERN_PATH_RE = re.compile(
    rf"{_TERM}\s+({_PATH_STEP}(?:\s*/\s*{_PATH_STEP})*)\s+{_TERM}"
)
_IRI_RE = re.compile(r"<([^>]*)>")
_FILTER_RE = re.compile(
    rf"FILTER\s*\(\s*(\?[A-Za-z_][A-Za-z0-9_]*)\s*(!=|<=|>=|=|<|>)\s*{_TERM}\s*\)",
    re.IGNORECASE,
)
# string-function filters: literal (quoted) second argument only
_STR_FILTER_RE = re.compile(
    r"FILTER\s*\(\s*(STRSTARTS|STRENDS|CONTAINS|REGEX)\s*\(\s*"
    r"(\?[A-Za-z_][A-Za-z0-9_]*)\s*,\s*\"([^\"]*)\"\s*\)\s*\)",
    re.IGNORECASE,
)


def _term(tok: str):
    """-> (value, is_var)."""
    if tok.startswith("?"):
        if tok[1:].startswith(_ANON_PREFIX):
            raise ValueError(f"variable prefix {_ANON_PREFIX!r} is reserved")
        return tok[1:], True
    if tok.startswith("<"):
        return tok[1:-1], False
    if tok.startswith('"'):
        return tok[1:-1], False
    return (float(tok) if "." in tok else int(tok)), False


_OPTIONAL_RE = re.compile(r"OPTIONAL\s*\{([^{}]*)\}", re.IGNORECASE | re.DOTALL)
_NEGATION_RE = re.compile(
    r"(?:FILTER\s+NOT\s+EXISTS|MINUS)\s*\{([^{}]*)\}", re.IGNORECASE | re.DOTALL
)
# disjoint with _NEGATION_RE ("NOT" cannot appear between FILTER and
# EXISTS here), but extracted AFTER it so the two never race
_EXISTS_RE = re.compile(r"FILTER\s+EXISTS\s*\{([^{}]*)\}", re.IGNORECASE | re.DOTALL)
_UNION_SEP_RE = re.compile(r"\}\s*UNION\s*\{", re.IGNORECASE)
_BIND_RE = re.compile(
    r"BIND\s*\(\s*(.+?)\s+AS\s+(\?[A-Za-z_][A-Za-z0-9_]*)\s*\)",
    re.IGNORECASE | re.DOTALL,
)
_BIND_FUNC_RE = re.compile(
    r"(CONCAT|STRLEN|UCASE|LCASE|ABS)\s*\((.*)\)\s*$", re.IGNORECASE | re.DOTALL
)
_BIND_ARITH_RE = re.compile(rf"{_TERM}\s*([+\-*/])\s*{_TERM}\s*$")
_VALUES_RE = re.compile(
    r"VALUES\s*(\?[A-Za-z_][A-Za-z0-9_]*|\([^()]*\))\s*\{([^{}]*)\}",
    re.IGNORECASE | re.DOTALL,
)
_TERM_RE = re.compile(_TERM)
_LIMIT_RE = re.compile(r"LIMIT\s+(\d+)", re.IGNORECASE)
_OFFSET_RE = re.compile(r"OFFSET\s+(\d+)", re.IGNORECASE)
_GROUPBY_RE = re.compile(r"GROUP\s+BY((?:\s+\?[A-Za-z_][A-Za-z0-9_]*)+)", re.IGNORECASE)
_ORDER_KEY_RE = re.compile(
    r"(ASC|DESC)\s*\(\s*\?([A-Za-z_][A-Za-z0-9_]*)\s*\)"
    r"|\?([A-Za-z_][A-Za-z0-9_]*)",
    re.IGNORECASE,
)
_AGG_RE = re.compile(
    r"\(\s*(COUNT|MIN|MAX|SUM|AVG|SAMPLE)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?[A-Za-z_][A-Za-z0-9_]*)\s*\)\s+AS\s+(\?[A-Za-z_][A-Za-z0-9_]*)\s*\)",
    re.IGNORECASE,
)
_GROUP_CONCAT_RE = re.compile(
    r"\(\s*GROUP_CONCAT\s*\(\s*(DISTINCT\s+)?\?([A-Za-z_][A-Za-z0-9_]*)"
    r"""(?:\s*;\s*SEPARATOR\s*=\s*"([^"]*)")?\s*\)"""
    r"\s+AS\s+(\?[A-Za-z_][A-Za-z0-9_]*)\s*\)",
    re.IGNORECASE,
)
_HAVING_RE = re.compile(
    r"HAVING\s*\(\s*(COUNT|MIN|MAX|SUM|AVG)\s*\(\s*(DISTINCT\s+)?"
    r"(\*|\?[A-Za-z_][A-Za-z0-9_]*)\s*\)\s*(!=|<=|>=|=|<|>)\s*"
    r"""("[^"]*"|-?\d+(?:\.\d+)?)\s*\)""",
    re.IGNORECASE,
)


def _parse_bind_expr(src: str) -> tuple:
    """One BIND expression -> parsed tree (see :class:`Bind`). The subset
    is unambiguous by construction: exactly one binary arithmetic op (no
    precedence to get wrong — chain BINDs for more), CONCAT, a single-arg
    function, or a bare term."""
    s = src.strip()
    fm = _BIND_FUNC_RE.match(s)
    if fm:
        name = fm.group(1).lower()
        args = [a.strip() for a in fm.group(2).split(",")]
        terms = []
        for a in args:
            if not _TERM_RE.fullmatch(a):
                raise ValueError(f"bad BIND argument: {a!r}")
            terms.append(_term(a))
        if name == "concat":
            if len(terms) < 2:
                raise ValueError("CONCAT needs at least two arguments")
        elif len(terms) != 1:
            raise ValueError(f"{name.upper()} takes exactly one argument")
        return ("func", name, terms)
    am = _BIND_ARITH_RE.match(s)
    if am:
        return ("arith", am.group(2), _term(am.group(1)), _term(am.group(3)))
    if _TERM_RE.fullmatch(s):
        return ("term", _term(s))
    raise ValueError(f"unsupported BIND expression: {src!r}")


def _bind_col(expr: tuple):
    """Parsed BIND tree -> one JVM Column expression (never a UDF)."""

    def tc(t):
        v, is_var = t
        return F.col(v) if is_var else F.lit(v)

    kind = expr[0]
    if kind == "term":
        return tc(expr[1])
    if kind == "arith":
        lhs, rhs = tc(expr[2]), tc(expr[3])
        return {
            "+": lhs + rhs, "-": lhs - rhs, "*": lhs * rhs, "/": lhs / rhs,
        }[expr[1]]
    name, args = expr[1], [tc(t) for t in expr[2]]
    if name == "concat":
        return F.concat(*args)
    return {
        "strlen": F.length, "ucase": F.upper, "lcase": F.lower, "abs": F.abs,
    }[name](args[0])


def _parse_group(body: str, fresh=None):
    """Patterns + filters of one brace-free group body. ``fresh`` is the
    query-global anonymous-variable counter (property-path desugaring
    must not collide across groups — a duplicate ``__path0`` in an
    OPTIONAL group would silently equi-join with the required one)."""
    if fresh is None:
        import itertools

        fresh = itertools.count()
    filters = []
    for sm in _STR_FILTER_RE.finditer(body):
        filters.append(
            Filter(
                left=sm.group(2)[1:],
                op=sm.group(1).lower(),
                right=sm.group(3),
                right_var=False,
            )
        )
    body = _STR_FILTER_RE.sub(" ", body)
    for fm in _FILTER_RE.finditer(body):
        right, rvar = _term(fm.group(3))
        filters.append(
            Filter(left=fm.group(1)[1:], op=fm.group(2), right=right, right_var=rvar)
        )
    body = _FILTER_RE.sub(" ", body)
    patterns = []
    for chunk in body.split("."):
        chunk = chunk.strip()
        if not chunk:
            continue
        pm = _PATTERN_RE.fullmatch(chunk)
        if pm:
            (s, sv), (p, pv), (o, ov) = (_term(t) for t in pm.groups())
            patterns.append(
                Pattern(subj=s, pred=p, obj=o, subj_var=sv, pred_var=pv, obj_var=ov)
            )
            continue
        pp = _PATTERN_PATH_RE.fullmatch(chunk)
        if not pp:
            raise ValueError(f"bad triple pattern: {chunk!r}")
        # desugar a sequence path into a chain of plain patterns linked
        # by fresh anonymous variables; ^ swaps subject/object per step
        s, sv = _term(pp.group(1))
        o, ov = _term(pp.group(3))

        def _step_iri(neg: str, step: str):
            if step.startswith("("):
                # alternation group -> the step's predicate constant is
                # the member tuple (deduped, declaration order); a
                # single-member group collapses to a plain constant
                members = tuple(dict.fromkeys(_IRI_RE.findall(step)))
                return members if (neg or len(members) > 1) else members[0]
            # a NEGATED set always keeps the member tuple (even a single
            # member) so the compiler has one shape to Not(In) against
            return (step[1:-1],) if neg else step[1:-1]

        # normalize the step list into units: ('simple', inv, neg, iri,
        # mod) | ('seq', substeps, mod). A sequence GROUP ^-inverts by
        # reversing its members and flipping each member's ^ (SPARQL:
        # ^(a/b) == ^b/^a, and ^(p+) == (^p)+); a MODIFIER-less group
        # flattens into its members inline (plain sequence sugar).
        units = []
        for sm in _PATH_STEP_RE.finditer(pp.group(2)):
            inv, neg, step, seq, mod = sm.groups()
            if seq:
                subs = [
                    (bool(i2), bool(n2), _step_iri(n2, s2))
                    for i2, n2, s2 in _SIMPLE_STEP_RE.findall(seq[1:-1])
                ]
                if inv:
                    subs = [(not i2, n2, u) for i2, n2, u in reversed(subs)]
                if not mod:
                    units.extend(
                        ("simple", i2, n2, u, "") for i2, n2, u in subs
                    )
                else:
                    units.append(("seq", tuple(subs), mod))
            else:
                units.append(
                    ("simple", bool(inv), bool(neg), _step_iri(neg, step), mod)
                )

        cur, cur_var = s, sv
        for i, unit in enumerate(units):
            last = i == len(units) - 1
            nxt, nxt_var = (o, ov) if last else (f"{_ANON_PREFIX}{next(fresh)}", True)
            if unit[0] == "seq":
                _, subs, mod = unit
                patterns.append(
                    Pattern(subj=cur, pred=subs, obj=nxt,
                            subj_var=cur_var, pred_var=False, obj_var=nxt_var,
                            pred_mod=mod, pred_seq=subs)
                )
                cur, cur_var = nxt, nxt_var
                continue
            _, inv, neg, iri, mod = unit
            # ^p+ == (^p)+ == ^(p+) for a single-direction step set, so
            # inversion still just swaps the pattern's endpoints; the
            # same holds for ^!(...) — the negated set constrains the
            # edge's predicate regardless of traversal direction. (The
            # DISTINCT SPARQL form !^a — negated set of INVERSE members
            # — is outside the subset: ^ binds inside our ! only.)
            if inv:
                patterns.append(
                    Pattern(subj=nxt, pred=iri, obj=cur,
                            subj_var=nxt_var, pred_var=False, obj_var=cur_var,
                            pred_mod=mod or None, pred_neg=bool(neg))
                )
            else:
                patterns.append(
                    Pattern(subj=cur, pred=iri, obj=nxt,
                            subj_var=cur_var, pred_var=False, obj_var=nxt_var,
                            pred_mod=mod or None, pred_neg=bool(neg))
                )
            cur, cur_var = nxt, nxt_var
    return patterns, filters


def _contiguous_terms(src: str) -> list:
    """All _TERM tokens of ``src``, requiring nothing but whitespace
    between them; each must be a CONSTANT (no variables)."""
    out, pos = [], 0
    for tm in _TERM_RE.finditer(src):
        if src[pos : tm.start()].strip():
            raise ValueError(f"bad VALUES data block: {src!r}")
        val, is_var = _term(tm.group(1))
        if is_var:
            raise ValueError("VALUES data must be constants (UNDEF/vars unsupported)")
        out.append(val)
        pos = tm.end()
    if src[pos:].strip():
        raise ValueError(f"bad VALUES data block: {src!r}")
    return out


def _parse_values(head: str, body: str) -> ValuesClause:
    if head.startswith("("):
        var_toks = head[1:-1].split()
        if not var_toks or not all(t.startswith("?") for t in var_toks):
            raise ValueError(f"bad VALUES variable list: {head!r}")
        names = [_term(t)[0] for t in var_toks]
        row_srcs = re.findall(r"\(([^()]*)\)", body)
        if re.sub(r"\([^()]*\)", " ", body).strip():
            raise ValueError(f"bad VALUES data block: {body!r}")
        rows = [tuple(_contiguous_terms(rs)) for rs in row_srcs]
    else:
        names = [_term(head)[0]]
        rows = [(v,) for v in _contiguous_terms(body)]
    if not rows:
        raise ValueError("empty VALUES data block")
    for r in rows:
        if len(r) != len(names):
            raise ValueError(
                f"VALUES row arity {len(r)} != {len(names)} variables"
            )
    # a restriction, not a multiplicity source: dedupe, keep first order
    rows = list(dict.fromkeys(rows))
    return ValuesClause(variables=names, rows=rows)


def _parse_tail(tail: str):
    """HAVING / ORDER BY / LIMIT clauses after the WHERE block ->
    (order, limit, offset, group_by, havings)."""
    group_by = []
    gm = _GROUPBY_RE.search(tail)
    if gm:
        group_by = [v[1:] for v in gm.group(1).split()]
        if len(set(group_by)) != len(group_by):
            raise ValueError(f"duplicate GROUP BY key: {gm.group(1).strip()!r}")
        tail = tail[: gm.start()] + tail[gm.end() :]
    havings = []
    for hm in _HAVING_RE.finditer(tail):
        func = hm.group(1).lower()
        term = hm.group(3)
        var = None if term == "*" else term[1:]
        if hm.group(2):
            if func != "count":
                raise ValueError("DISTINCT is only supported inside COUNT(...)")
            func = "count_distinct"
        if var is None and func != "count":
            raise ValueError(f"{func.upper()}(*) is not supported")
        value, _ = _term(hm.group(5))
        havings.append(Having(func=func, var=var, op=hm.group(4), value=value))
    tail = _HAVING_RE.sub(" ", tail)
    limit = None
    lm = _LIMIT_RE.search(tail)
    if lm:
        limit = int(lm.group(1))
        tail = tail[: lm.start()] + tail[lm.end() :]
    offset = None
    om_ = _OFFSET_RE.search(tail)
    if om_:
        offset = int(om_.group(1))
        tail = tail[: om_.start()] + tail[om_.end() :]
    order = []
    om = re.search(r"ORDER\s+BY\s+(.*)", tail, re.IGNORECASE | re.DOTALL)
    if om:
        keys_src = om.group(1)
        pos = 0
        for km in _ORDER_KEY_RE.finditer(keys_src):
            if keys_src[pos : km.start()].strip():
                raise ValueError(f"bad ORDER BY key list: {keys_src!r}")
            if km.group(1):
                order.append((km.group(2), km.group(1).upper() == "DESC"))
            else:
                order.append((km.group(3), False))
            pos = km.end()
        if keys_src[pos:].strip() or not order:
            raise ValueError(f"bad ORDER BY key list: {keys_src!r}")
        tail = tail[: om.start()]
    if tail.strip():
        raise ValueError(f"unparsed trailing clause: {tail.strip()!r}")
    if offset is not None and not order:
        # a page boundary over an unordered solution multiset is
        # non-deterministic on a distributed engine — refused, not quietly
        # partition-order-dependent
        raise ValueError("OFFSET requires ORDER BY")
    return order, limit, offset, group_by, havings


_SUBQ_OPEN_RE = re.compile(r"\{\s*SELECT\b", re.IGNORECASE)


def _extract_subqueries(body: str):
    """Pull every DEPTH-0 ``{ SELECT ... }`` group out of a WHERE body
    and blank its span; returns ``(residual body, [BGPQuery, ...])``.
    The scan tracks brace depth and skips quoted literals, so a
    subquery's own WHERE braces (and a nested subquery, which resolves
    by recursion) nest freely and a ``{``/``}`` inside a FILTER string
    cannot shift the span. A ``{ SELECT`` encountered INSIDE another
    group (OPTIONAL / UNION / EXISTS / MINUS) is refused loudly —
    hoisting it to a top-level join would silently change that group's
    semantics (drop OPTIONAL rows, invert a NOT EXISTS)."""

    def _skip_literal(s: str, i: int) -> int:
        j = s.find('"', i + 1)
        if j < 0:
            raise ValueError("unterminated string literal")
        return j + 1

    subs = []
    out = []
    depth = 0
    i, n = 0, len(body)
    while i < n:
        ch = body[i]
        if ch == '"':
            j = _skip_literal(body, i)
            out.append(body[i:j])
            i = j
            continue
        if ch == "{":
            if _SUBQ_OPEN_RE.match(body, i):
                if depth != 0:
                    raise ValueError(
                        "subqueries are only supported at the top level of "
                        "WHERE (not inside OPTIONAL/UNION/EXISTS/MINUS groups)"
                    )
                d, j = 0, i
                while j < n:
                    cj = body[j]
                    if cj == '"':
                        j = _skip_literal(body, j)
                        continue
                    if cj == "{":
                        d += 1
                    elif cj == "}":
                        d -= 1
                        if d == 0:
                            break
                    j += 1
                if j >= n:
                    raise ValueError("unbalanced braces in subquery")
                subs.append(parse_bgp(body[i + 1 : j]))
                out.append(" ")
                i = j + 1
                continue
            depth += 1
        elif ch == "}":
            depth -= 1
        out.append(ch)
        i += 1
    return "".join(out), subs


def _subq_out_vars(q: BGPQuery) -> list:
    """A subquery's projected columns — its visible vars in the outer
    scope (SELECT * is already resolved to concrete names at parse)."""
    return list(q.select) + [a.alias for a in q.aggregates]


def parse_bgp(query: str) -> BGPQuery:
    m = re.search(
        r"SELECT\s+(DISTINCT\s+)?(.*?)\s+WHERE\s*\{(.*)\}([^{}]*)$",
        query,
        re.IGNORECASE | re.DOTALL,
    )
    if not m:
        raise ValueError("not a SELECT ... WHERE { ... } query")
    distinct = bool(m.group(1))
    sel_raw, body = m.group(2).strip(), m.group(3)
    order_by, limit, offset, group_by, havings = _parse_tail(m.group(4))
    body, subqueries = _extract_subqueries(body)
    if subqueries and re.search(
        # structural UNION token only: scrub IRIs and string literals
        # first so <http://ex/UNION/x> or "UNION" cannot false-positive
        r"\bUNION\b",
        re.sub(r'<[^>]*>|"[^"]*"', " ", body),
        re.IGNORECASE,
    ):
        raise ValueError("subqueries cannot be combined with UNION")
    import itertools

    fresh = itertools.count()  # query-global anonymous path-var counter
    unions = []
    optionals = []
    subq_vars = set()  # filled in the non-union branch below
    if _UNION_SEP_RE.search(body):
        # whole-body union: { branch } UNION { branch } [UNION ...] —
        # nothing may sit outside the braces, and a branch is a plain
        # pattern+FILTER group (no nested OPTIONAL/UNION)
        b = body.strip()
        if not (b.startswith("{") and b.endswith("}")):
            raise ValueError(
                "UNION body must be exactly { group } UNION { group } ..."
            )
        parts = _UNION_SEP_RE.split(b[1:-1])
        for part in parts:
            if "{" in part or "}" in part:
                raise ValueError(
                    "nested groups inside UNION branches are not supported"
                )
            br_patterns, br_filters = _parse_group(part, fresh)
            if not br_patterns:
                raise ValueError("empty UNION branch")
            branch = UnionBranch(patterns=br_patterns, filters=br_filters)
            for f in br_filters:
                # a branch filter may reference only variables its own
                # branch binds — it runs before the union
                if not f.variables() <= branch.variables():
                    raise ValueError(
                        f"UNION branch FILTER uses variable outside its branch: {f}"
                    )
            unions.append(branch)
        patterns, filters = [], []
        # a variable is safe for top-level use if ANY branch binds it
        # (unbound branches contribute NULLs); `required` (never-null
        # vars) is the intersection across branches
        bound = set().union(*[br.variables() for br in unions])
        required = set.intersection(*[br.variables() for br in unions])
    values = []
    if not unions:
        for vm in _VALUES_RE.finditer(body):
            values.append(_parse_values(vm.group(1), vm.group(2)))
        body = _VALUES_RE.sub(" ", body)
    negations = []
    if not unions:
        for nm in _NEGATION_RE.finditer(body):
            ng_patterns, ng_filters = _parse_group(nm.group(1), fresh)
            if not ng_patterns:
                raise ValueError("empty FILTER NOT EXISTS / MINUS group")
            ngroup = NegationGroup(patterns=ng_patterns, filters=ng_filters)
            for f in ng_filters:
                # a negation-group filter may reference only variables the
                # group itself binds (shared variables are group-bound too)
                if not f.variables() <= ngroup.variables():
                    raise ValueError(
                        f"NOT EXISTS/MINUS FILTER uses variable outside its group: {f}"
                    )
            negations.append(ngroup)
        body = _NEGATION_RE.sub(" ", body)
    exists_groups = []
    if not unions:
        for em in _EXISTS_RE.finditer(body):
            ex_patterns, ex_filters = _parse_group(em.group(1), fresh)
            if not ex_patterns:
                raise ValueError("empty FILTER EXISTS group")
            egroup = ExistsGroup(patterns=ex_patterns, filters=ex_filters)
            for f in ex_filters:
                # same group-locality rule as negation: an EXISTS filter
                # may reference only variables the group itself binds
                if not f.variables() <= egroup.variables():
                    raise ValueError(
                        f"EXISTS FILTER uses variable outside its group: {f}"
                    )
            exists_groups.append(egroup)
        body = _EXISTS_RE.sub(" ", body)
    if not unions:
        for om in _OPTIONAL_RE.finditer(body):
            op_patterns, op_filters = _parse_group(om.group(1), fresh)
            if not op_patterns:
                raise ValueError("empty OPTIONAL group")
            group = OptionalGroup(patterns=op_patterns, filters=op_filters)
            for f in op_filters:
                # restriction (documented): an OPTIONAL filter may reference
                # only variables its own group binds — it pre-filters the
                # optional side before the left join
                if not f.variables() <= group.variables():
                    raise ValueError(
                        f"OPTIONAL FILTER uses variable outside its group: {f}"
                    )
            optionals.append(group)
        body = _OPTIONAL_RE.sub(" ", body)
    binds = []
    if not unions:
        for bm in _BIND_RE.finditer(body):
            binds.append(Bind(var=bm.group(2)[1:], expr=_parse_bind_expr(bm.group(1))))
        body = _BIND_RE.sub(" ", body)
        patterns, filters = _parse_group(body, fresh)
        if not patterns:
            raise ValueError(
                "a subquery needs at least one sibling triple pattern"
                if subqueries
                else "empty graph pattern"
            )
        required = set().union(*[p.variables() for p in patterns])
        bound = required | set().union(
            set(), *[g.variables() for g in optionals]
        )
        # subquery outputs: never-null in the outer scope (inner join on
        # the shared projected vars), so they bind like pattern vars —
        # but the join must be keyed, hence the shared-variable check
        for sq in subqueries:
            ov = set(_subq_out_vars(sq))
            if not (ov & required):
                raise ValueError(
                    "subquery shares no variable with the required pattern"
                )
            subq_vars |= ov
        bound |= subq_vars
        # BIND validation, in source order: each expression may use only
        # required vars and EARLIER bind vars (never optional NULLs); the
        # bound name must be fresh everywhere — a collision with any
        # pattern/group/VALUES variable would silently become a join key
        taken = set(bound)
        for g in negations + exists_groups:
            taken |= g.variables()
        for vc in values:
            taken |= set(vc.variables)
        allowed = set(required) | subq_vars  # subqueries join before binds
        for b in binds:
            if b.var in taken or b.var in allowed - required:
                raise ValueError(f"BIND variable already in use: ?{b.var}")
            missing_refs = b.variables() - allowed
            if missing_refs:
                raise ValueError(
                    f"BIND expression uses unbound variables: {sorted(missing_refs)}"
                )
            allowed.add(b.var)
        bound |= {b.var for b in binds}
    # aggregates keep SELECT-list author order across both syntaxes
    positioned = []
    for gcm in _GROUP_CONCAT_RE.finditer(sel_raw):
        gc_var = gcm.group(2)
        if gc_var not in bound:
            raise ValueError(f"aggregate over unbound variable: ?{gc_var}")
        positioned.append((
            gcm.start(),
            Aggregate(
                func="group_concat_distinct" if gcm.group(1) else "group_concat",
                var=gc_var,
                alias=gcm.group(4)[1:],
                sep=gcm.group(3) if gcm.group(3) is not None else " ",
            ),
        ))
    sel_raw = _GROUP_CONCAT_RE.sub(lambda m: " " * len(m.group(0)), sel_raw)
    aggregates = []
    for am in _AGG_RE.finditer(sel_raw):
        func = am.group(1).lower()
        term = am.group(3)
        var = None if term == "*" else term[1:]
        if am.group(2):
            if func != "count":
                raise ValueError("DISTINCT is only supported inside COUNT(...)")
            func = "count_distinct"
        if var is None and func != "count":
            raise ValueError(f"{func.upper()}(*) is not supported")
        if var is not None and var not in bound:
            raise ValueError(f"aggregate over unbound variable: ?{var}")
        positioned.append(
            (am.start(), Aggregate(func=func, var=var, alias=am.group(4)[1:]))
        )
    aggregates = [a for _, a in sorted(positioned, key=lambda t: t[0])]
    for h in havings:
        if h.var is not None and h.var not in bound:
            raise ValueError(f"HAVING aggregate over unbound variable: ?{h.var}")
    sel_plain = _AGG_RE.sub(" ", sel_raw).strip()
    if sel_plain == "*":
        if aggregates:
            raise ValueError("SELECT * cannot be mixed with aggregates")
        select = sorted(v for v in bound if not v.startswith(_ANON_PREFIX))
    else:
        select = [v[1:] for v in sel_plain.split()]
        if not all(v and not v.startswith("?") for v in select):
            raise ValueError(f"bad SELECT list: {sel_raw!r}")
    missing = [v for v in select if v not in bound]
    if missing:
        raise ValueError(f"SELECT variables never bound by a pattern: {missing}")
    if group_by:
        bad_keys = [v for v in group_by if v not in bound]
        if bad_keys:
            raise ValueError(f"GROUP BY variables never bound: {bad_keys}")
        # SPARQL's projection rule: a plain (non-aggregate) SELECT var
        # must be a group key — anything else has no single value per group
        stray = [v for v in select if v not in group_by]
        if stray:
            raise ValueError(
                f"SELECT variables not in the explicit GROUP BY: {stray}"
            )
    for f in filters:
        # top-level filters must not touch optional-only (nullable) vars —
        # SPARQL's bound()/COALESCE semantics are out of the subset;
        # BIND-computed vars are fine (such filters apply after the bind
        # columns are attached)
        if not f.variables() <= required | subq_vars | {b.var for b in binds}:
            raise ValueError(f"FILTER uses unbound variable: {f}")
    for g in optionals:
        if not (g.variables() & required):
            raise ValueError(
                "OPTIONAL group shares no variable with the required pattern"
            )
    for g in negations:
        # a var-disjoint negation is all-or-nothing existence semantics
        # (and where MINUS and NOT EXISTS genuinely differ) — refused
        if not (g.variables() & required):
            raise ValueError(
                "NOT EXISTS/MINUS group shares no variable with the required pattern"
            )
    for g in exists_groups:
        # var-disjoint EXISTS is the same all-or-nothing shape — use ASK
        if not (g.variables() & required):
            raise ValueError(
                "EXISTS group shares no variable with the required pattern"
            )
    for vc in values:
        missing_vals = [v for v in vc.variables if v not in required]
        if missing_vals:
            raise ValueError(
                f"VALUES variables not bound by the required pattern: {missing_vals}"
            )
    out_cols = list(select) + [a.alias for a in aggregates]
    for v, _ in order_by:
        if v not in out_cols:
            raise ValueError(f"ORDER BY key not in the result columns: ?{v}")
    return BGPQuery(
        select=select,
        distinct=distinct,
        patterns=patterns,
        filters=filters,
        optionals=optionals,
        aggregates=aggregates,
        unions=unions,
        negations=negations,
        exists_groups=exists_groups,
        values=values,
        binds=binds,
        group_by=group_by,
        havings=havings,
        order_by=order_by,
        limit=limit,
        offset=offset,
        subqueries=subqueries,
    )


_OPS = {
    "=": lambda a, b: a == b,
    "!=": lambda a, b: a != b,
    "<": lambda a, b: a < b,
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
}
# string-function filters take the RAW python literal (rlike has no
# Column overload; startswith/endswith/contains accept str directly)
_STR_OPS = {
    "strstarts": lambda a, b: a.startswith(b),
    "strends": lambda a, b: a.endswith(b),
    "contains": lambda a, b: a.contains(b),
    "regex": lambda a, b: a.rlike(b),
}


def _agg_expr(func: str, var: str | None, sep: str = " "):
    """One aggregate function over a bound variable (or COUNT(*)).
    GROUP_CONCAT sorts its collected values (lexicographically, on the
    string casts it joins) — SPARQL leaves concatenation order undefined,
    and on a distributed engine an undefined order is a nondeterministic
    result; sorted is the one choice that is reproducible AND
    oracle-checkable."""
    col = F.col(var) if var is not None else None
    if func == "group_concat":
        return F.array_join(F.sort_array(F.collect_list(col.cast("string"))), sep)
    if func == "group_concat_distinct":
        return F.array_join(F.sort_array(F.collect_set(col.cast("string"))), sep)
    return {
        "count": F.count(col) if col is not None else F.count(F.lit(1)),
        "count_distinct": F.count_distinct(col) if col is not None else None,
        "min": F.min(col) if col is not None else None,
        "max": F.max(col) if col is not None else None,
        "sum": F.sum(col) if col is not None else None,
        "avg": F.avg(col) if col is not None else None,
        # SPARQL leaves SAMPLE's pick arbitrary; a distributed engine
        # must not be nondeterministic, so SAMPLE == the min member —
        # reproducible across partitionings AND oracle-checkable
        "sample": F.min(col) if col is not None else None,
    }[func]


# round cap for +/* closures: path doubling squares reachable depth per
# round, so 16 rounds cover paths of 2**16 = 65536 edges — beyond any
# real predicate's diameter. The loop exits at the FIXPOINT (closure
# complete and exact), almost always far earlier; the cap only stops a
# runaway and raises loudly rather than silently truncating.
CLOSURE_ROUNDS = 16


def path_closure(pairs: DataFrame) -> DataFrame:
    """EXACT transitive closure of a distinct (``__ps``, ``__po``) pair
    set by path DOUBLING: after round k every pair connected by a path
    of length <= 2**k is present, so an ontology 1000 levels deep
    converges in 10 rounds, not 1000 driver iterations. Each round is
    one equi-join + distinct over the (predicate-filtered, usually
    small) pair set; ``distinct`` gives SPARQL 1.1's connectivity (set)
    semantics, which is also what terminates on cycles. The rounds run
    through ``graph.fixpoint`` with a pair-count probe — without its
    checkpoint the self-referencing plan triples per round and the
    OPTIMIZER, not the data, becomes the bottleneck. The one closure of
    the code base: the ``+``/``*`` compile and ``kgq.type_extension``'s
    subClassOf closure both run it.
    """
    c = pairs.localCheckpoint(eager=True)

    def double(c: DataFrame) -> DataFrame:
        step = (
            c.select(F.col("__ps").alias("__s1"), F.col("__po").alias("__m"))
            .join(
                c.select(F.col("__ps").alias("__m"), F.col("__po").alias("__o2")),
                on="__m",
            )
            .select(F.col("__s1").alias("__ps"), F.col("__o2").alias("__po"))
        )
        return c.unionByName(step).distinct()

    c, converged = fixpoint(c, double, count_probe, CLOSURE_ROUNDS, c.count())
    if not converged:
        raise RuntimeError(
            f"path closure did not converge within {CLOSURE_ROUNDS} doubling "
            f"rounds (depth 2**{CLOSURE_ROUNDS})"
        )
    return c


def _closure_pairs(edges: DataFrame, p: Pattern, cols: tuple) -> DataFrame:
    """A modified path step ``<r>+ / <r>* / <r>?`` -> its solution pair
    set (``__ps``, ``__po``). The predicate constant (or alternation
    member set) filters the scan FIRST — the closure runs over one
    predicate's edge set, never the whole table. Zero-length paths
    (``*``/``?``) range over the node universe of the GRAPH (every term
    appearing as a subject or object of any edge), the standard engine
    reading of SPARQL 1.1's zero-length path; a CONSTANT endpoint that
    never occurs in the graph therefore does NOT zero-length-match
    itself (documented deviation from the letter of the spec)."""
    src, rel, dst = cols

    def _member_base(neg: bool, iri) -> DataFrame:
        if neg:
            # negated-set closure base: every edge whose predicate is
            # NOT a member — still one scan-pushed Not(In)
            return edges.filter(~F.col(rel).isin(*iri))
        if isinstance(iri, tuple):
            return edges.filter(F.col(rel).isin(*iri))
        return edges.filter(F.col(rel) == F.lit(iri))

    if p.pred_seq is not None:
        # sequence group (<a>/<b>)+: the closure base is the COMPOSITION
        # of the substeps' (scan-filtered, ^-oriented) pair sets — one
        # equi-join per substep, distinct'd so the closure stays a set
        pairs = None
        for inv, neg, iri in p.pred_seq:
            a, b = (dst, src) if inv else (src, dst)
            step = (
                _member_base(neg, iri)
                .select(F.col(a).alias("__ps"), F.col(b).alias("__po"))
                .distinct()
            )
            if pairs is None:
                pairs = step
            else:
                hop = step.select(
                    F.col("__ps").alias("__m"), F.col("__po").alias("__po2")
                )
                pairs = (
                    pairs.join(hop, pairs["__po"] == hop["__m"])
                    .select("__ps", F.col("__po2").alias("__po"))
                    .distinct()
                )
    else:
        pairs = (
            _member_base(p.pred_neg, p.pred)
            .select(F.col(src).alias("__ps"), F.col(dst).alias("__po"))
            .distinct()
        )
    if p.pred_mod in ("+", "*"):
        pairs = path_closure(pairs)
    if p.pred_mod in ("*", "?"):
        nodes = (
            edges.select(F.col(src).alias("__n"))
            .unionByName(edges.select(F.col(dst).alias("__n")))
            .distinct()
        )
        zero = nodes.select(F.col("__n").alias("__ps"), F.col("__n").alias("__po"))
        pairs = pairs.unionByName(zero).distinct()
    return pairs


def _pattern_df(edges: DataFrame, p: Pattern, cols: tuple) -> DataFrame:
    """One triple pattern -> (filtered, variable-renamed) projection.
    A path-modified pattern (``pred_mod``) resolves to its closure pair
    set first; endpoint constants/variables then apply to the pairs
    exactly as they would to a plain scan."""
    src, rel, dst = cols
    if p.pred_mod is not None:
        df = _closure_pairs(edges, p, cols)
        positions = [("__ps", p.subj, p.subj_var), ("__po", p.obj, p.obj_var)]
    else:
        df = edges
        positions = [
            (src, p.subj, p.subj_var),
            (rel, p.pred, p.pred_var),
            (dst, p.obj, p.obj_var),
        ]
    for col, value, is_var in positions:
        if not is_var:
            if col == rel and p.pred_neg and p.pred_mod is None:
                # negated property set: one Not(In) filter, pushed to
                # the scan exactly like the positive alternation's In
                df = df.filter(~F.col(col).isin(*value))
            elif isinstance(value, tuple):
                # predicate alternation: one In filter, pushed to the scan
                df = df.filter(F.col(col).isin(*value))
            else:
                df = df.filter(F.col(col) == F.lit(value))
    # a variable used twice within one pattern (?x <r> ?x) self-constrains
    var_cols = []
    var_names = []
    for col, value, is_var in positions:
        if not is_var:
            continue
        if value in var_names:
            df = df.filter(F.col(col) == F.col(var_cols[var_names.index(value)]))
        else:
            var_names.append(value)
            var_cols.append(col)
    return df.select(*[F.col(c).alias(n) for c, n in zip(var_cols, var_names)])


def bgp(
    edges: DataFrame,
    query: str | BGPQuery,
    cols: tuple = ("src", "rel", "dst"),
    allow_product: bool = False,
) -> DataFrame:
    """Run a BGP query against an edge DataFrame.

    ``cols`` names the (subject, predicate, object) columns. Returns a
    DataFrame whose columns are the SELECT variables, in SELECT order.
    A ``+``/``*`` path that has not closed after ``CLOSURE_ROUNDS``
    doubling rounds (depth 2**16) raises — see :func:`path_closure`.
    """
    q = parse_bgp(query) if isinstance(query, str) else query
    if q.unions:
        # bag union of independently-solved branches; a variable a branch
        # never binds is NULL on its rows (allowMissingColumns). No
        # exchange: union is plan concatenation.
        acc, bound = None, set()
        for br in q.unions:
            gdf, gb = _solve(edges, br.patterns, br.filters, cols, allow_product)
            acc = gdf if acc is None else acc.unionByName(
                gdf, allowMissingColumns=True
            )
            bound |= gb
    else:
        # filters over BIND-computed or subquery-projected vars cannot
        # resolve inside the join tree — they apply right after those
        # columns are attached
        bind_vars = {b.var for b in q.binds}
        late_vars = bind_vars | set().union(
            set(), *[set(_subq_out_vars(s)) for s in q.subqueries]
        )
        solve_filters = [f for f in q.filters if not (f.variables() & late_vars)]
        post_filters = [f for f in q.filters if f.variables() & late_vars]
        acc, bound = _solve(edges, q.patterns, solve_filters, cols, allow_product)
        for sq in q.subqueries:
            # bottom-up (SPARQL 1.1 §12): the subquery solves as a full
            # query of its own — aggregates, DISTINCT, ORDER/LIMIT
            # included — then inner-joins the outer solution on the
            # shared projected variables. An aggregated subquery is
            # group-compact, so AQE picks a broadcast join when small.
            sdf = bgp(edges, sq, cols, allow_product)
            keys = sorted(set(_subq_out_vars(sq)) & bound)
            acc = acc.join(sdf, on=keys, how="inner")
            bound |= set(_subq_out_vars(sq))
        for b in q.binds:
            # one JVM Column per BIND — a pure projection, zero exchanges,
            # stays inside whole-stage codegen
            acc = acc.withColumn(b.var, _bind_col(b.expr))
            bound.add(b.var)
        for f in post_filters:
            if f.op in _STR_OPS:
                acc = acc.filter(_STR_OPS[f.op](F.col(f.left), f.right))
            else:
                rhs = F.col(f.right) if f.right_var else F.lit(f.right)
                acc = acc.filter(_OPS[f.op](F.col(f.left), rhs))
    for vc in q.values:
        # inline binding table: driver-small by construction, broadcast
        # inner join == a pushable semi-constraint on the VALUES vars
        vdf = edges.sparkSession.createDataFrame(vc.rows).toDF(*vc.variables)
        acc = acc.join(F.broadcast(vdf), on=vc.variables, how="inner")
    for g in q.negations:
        # anti-join on the shared variables: drop every required-side row
        # for which the negation group has at least one solution. Runs
        # BEFORE optional joins, so it only ever tests never-null vars.
        gdf, _ = _solve(edges, g.patterns, g.filters, cols, allow_product)
        keys = sorted(g.variables() & bound)
        acc = acc.join(gdf.select(*keys), on=keys, how="left_anti")
    for g in q.exists_groups:
        # semi-join twin: keep a row iff the group has ≥1 solution under
        # its bindings. LeftSemi short-circuits on first build-side match
        # and never widens the row — AQE picks broadcast vs shuffle, the
        # group's solution count never multiplies the required side.
        gdf, _ = _solve(edges, g.patterns, g.filters, cols, allow_product)
        keys = sorted(g.variables() & bound)
        acc = acc.join(gdf.select(*keys), on=keys, how="left_semi")
    for g in q.optionals:
        # each OPTIONAL group is solved on its own (group filters
        # pre-filter the optional side), then LEFT-joined to the solution
        # on the shared variables — unmatched rows keep NULLs, SPARQL's
        # OPTIONAL semantics for this subset
        gdf, _ = _solve(edges, g.patterns, g.filters, cols, allow_product)
        keys = sorted(g.variables() & bound)
        acc = acc.join(gdf, on=keys, how="left")
        bound |= g.variables()
    keys = q.group_by or q.select
    if q.aggregates or q.havings:
        # group keys are the explicit GROUP BY clause when present, else
        # the plain SELECT variables (SPARQL's implicit grouping); the
        # aggregation is one map-side-combinable exchange on those keys.
        # Each HAVING re-states its aggregate (SPARQL style): one that
        # matches a SELECT aggregate reuses the grouped column, any other
        # is computed as a hidden column in the SAME exchange and dropped
        # by the final projection — HAVING never costs a second shuffle.
        exprs, agg_cols = [], {}
        for a in q.aggregates:
            exprs.append(_agg_expr(a.func, a.var, a.sep).alias(a.alias))
            agg_cols.setdefault((a.func, a.var), a.alias)
        for i, h in enumerate(q.havings):
            if (h.func, h.var) not in agg_cols:
                hidden = f"#having{i}"  # '#' is not legal in a ?var name
                exprs.append(_agg_expr(h.func, h.var).alias(hidden))
                agg_cols[(h.func, h.var)] = hidden
        grouped = acc.groupBy(*keys).agg(*exprs) if keys else acc.agg(*exprs)
        for h in q.havings:
            grouped = grouped.filter(
                _OPS[h.op](F.col(agg_cols[(h.func, h.var)]), F.lit(h.value))
            )
        out = grouped.select(*q.select, *[a.alias for a in q.aggregates])
    elif q.group_by:
        # explicit GROUP BY with no aggregates: one row PER GROUP (bag
        # semantics — two groups agreeing on the projected subset stay
        # two rows), i.e. a dedup on the full key set then the projection
        out = acc.dropDuplicates(q.group_by).select(*q.select)
    else:
        out = acc.select(*q.select)
    if q.distinct:
        out = out.dropDuplicates()
    if q.order_by:
        # with LIMIT Spark plans TakeOrderedAndProject (per-partition
        # top-k + k-row merge, no total-sort exchange); without, an
        # honest global sort. NULLs: Spark default (asc first/desc last).
        out = out.orderBy(
            *[F.col(v).desc() if d else F.col(v).asc() for v, d in q.order_by]
        )
    if q.offset is not None:
        # OFFSET before LIMIT (SPARQL page semantics); with both, Spark
        # still plans a top-(offset+limit) + skip — no global materialize
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def _solve(
    edges: DataFrame,
    patterns: list,
    filters: list,
    cols: tuple,
    allow_product: bool,
):
    """Left-deep join of one pattern group; returns (df, bound vars)."""
    # most-constant-first, stable on author order; a closure pattern
    # sorts after a plain pattern with the same constant count (its pair
    # set is a superset of the base predicate's — never more selective)
    order = sorted(
        range(len(patterns)),
        key=lambda i: (
            -patterns[i].n_constants(),
            patterns[i].pred_mod is not None,
            i,
        ),
    )  # pred_neg already discounts itself via n_constants()
    pending_filters = list(filters)

    def apply_ready_filters(df: DataFrame, bound: set) -> DataFrame:
        nonlocal pending_filters
        still = []
        for f in pending_filters:
            if f.variables() <= bound:
                if f.op in _STR_OPS:
                    df = df.filter(_STR_OPS[f.op](F.col(f.left), f.right))
                else:
                    rhs = F.col(f.right) if f.right_var else F.lit(f.right)
                    df = df.filter(_OPS[f.op](F.col(f.left), rhs))
            else:
                still.append(f)
        pending_filters = still
        return df

    remaining = list(order)
    first = remaining.pop(0)
    acc = _pattern_df(edges, patterns[first], cols)
    bound = set(patterns[first].variables())
    acc = apply_ready_filters(acc, bound)
    while remaining:
        # next pattern (in heuristic order) that shares a variable
        idx = next(
            (j for j, i in enumerate(remaining) if patterns[i].variables() & bound),
            None,
        )
        if idx is None:
            if not allow_product:
                raise ValueError(
                    "disconnected graph pattern would be a cross product; "
                    "pass allow_product=True to run it anyway"
                )
            idx = 0
        i = remaining.pop(idx)
        pdf = _pattern_df(edges, patterns[i], cols)
        keys = sorted(patterns[i].variables() & bound)
        acc = acc.join(pdf, on=keys, how="inner") if keys else acc.crossJoin(pdf)
        bound |= patterns[i].variables()
        acc = apply_ready_filters(acc, bound)
    return acc, bound


_CONSTRUCT_RE = re.compile(
    r"^\s*CONSTRUCT\s*\{(.*?)\}\s*(WHERE\s*\{.*)$", re.IGNORECASE | re.DOTALL
)
_ASK_RE = re.compile(r"^\s*ASK\s*(?:WHERE\s*)?(\{.*\})\s*$", re.IGNORECASE | re.DOTALL)


def construct(
    edges: DataFrame,
    query: str,
    cols: tuple = ("src", "rel", "dst"),
    allow_product: bool = False,
) -> DataFrame:
    """``CONSTRUCT { template } WHERE { ... }`` — rule-based graph
    materialization: solve the WHERE block like any BGP, then emit one
    edge-shaped row per template triple per solution. The output schema
    IS the input edge schema (``cols`` names and dtypes — template
    constants are cast to the slot's column type), so a constructed
    graph feeds straight back into the same edge table, the KG-native
    "derive new edges from a pattern" operator (e.g. materialize
    ``?c <has_priority_order> ?o`` from a priority-alternation match).

    Template triples are PLAIN patterns (vars + constants; property
    paths/alternation belong in WHERE). Every template variable must be
    bound by the WHERE block; a solution row where a template variable
    is NULL (an OPTIONAL that didn't match) emits no triple for that
    template — SPARQL's unbound-skip rule. Output is a GRAPH, i.e. a
    set: duplicates are dropped (one exchange — the price of set
    semantics; at 100 TB this dedup is the same shuffle the edge
    table's own build pays in merge_edges).

    WHERE supports the full documented subset (OPTIONAL, UNION,
    negation, VALUES, paths, string filters); ORDER BY/LIMIT apply to
    the solution multiset before templating (LIMIT bounds work, order
    itself cannot survive the set-dedup).
    """
    m = _CONSTRUCT_RE.match(query)
    if not m:
        raise ValueError("not a CONSTRUCT { ... } WHERE { ... } query")
    tmpl = []
    for chunk in m.group(1).split("."):
        chunk = chunk.strip()
        if not chunk:
            continue
        pm = _PATTERN_RE.fullmatch(chunk)
        if not pm:
            raise ValueError(f"bad CONSTRUCT template triple: {chunk!r}")
        (s, sv), (p, pv), (o, ov) = (_term(t) for t in pm.groups())
        tmpl.append(
            Pattern(subj=s, pred=p, obj=o, subj_var=sv, pred_var=pv, obj_var=ov)
        )
    if not tmpl:
        raise ValueError("empty CONSTRUCT template")
    tvars = sorted(set().union(*[t.variables() for t in tmpl]))
    if not tvars:
        raise ValueError("CONSTRUCT template binds no variables")
    q = parse_bgp("SELECT " + " ".join(f"?{v}" for v in tvars) + " " + m.group(2))
    sols = bgp(edges, q, cols=cols, allow_product=allow_product)
    dtypes = {c: f.dataType for c, f in zip(cols, [edges.schema[c] for c in cols])}
    out = None
    for t in tmpl:
        row = [
            (F.col(val) if is_var else F.lit(val)).cast(dtypes[col]).alias(col)
            for col, val, is_var in (
                (cols[0], t.subj, t.subj_var),
                (cols[1], t.pred, t.pred_var),
                (cols[2], t.obj, t.obj_var),
            )
        ]
        part = sols.select(*row)
        out = part if out is None else out.unionByName(part)
    # union with a zero-row slice of the edge table: template constants
    # compile to non-nullable lits, and union nullability is the OR of
    # both sides, so this widens the output schema to EXACTLY the edge
    # schema (the zero-row side folds away — no scan, no extra stage)
    empty = edges.select(*cols).limit(0)
    return empty.unionByName(out.na.drop("any")).dropDuplicates()


def ask(
    edges: DataFrame,
    query: str,
    cols: tuple = ("src", "rel", "dst"),
    allow_product: bool = False,
) -> DataFrame:
    """``ASK { ... }`` — does the pattern have at least one solution?
    Returns a lazy ONE-row DataFrame with a single boolean column
    ``ask`` (no driver-side action): the solution plan is capped with
    ``limit(1)`` BEFORE the count, so Spark stops each task at the
    first matching row — existence never pays for enumeration.
    """
    m = _ASK_RE.match(query)
    if not m:
        raise ValueError("not an ASK { ... } query")
    q = parse_bgp("SELECT * WHERE " + m.group(1))
    sols = bgp(edges, q, cols=cols, allow_product=allow_product)
    return sols.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


_DESCRIBE_RE = re.compile(
    r"^\s*DESCRIBE\s+(.+?)\s*(?:WHERE\s*\{(.*)\})?\s*$", re.IGNORECASE | re.DOTALL
)


def describe(
    edges: DataFrame,
    query: str,
    cols: tuple = ("src", "rel", "dst"),
    allow_product: bool = False,
) -> DataFrame:
    """``DESCRIBE <iri> ... ?var ... [WHERE { ... }]`` — every edge
    incident (as subject OR object) to any described resource, in the
    edge table's own schema; the per-resource neighborhood dump SPARQL
    endpoints answer "what do we know about X?" with (the W3C leaves the
    description shape to the service; this one returns the resource's
    full 1-hop edge set, both directions, which is what an edge-list
    store can say about a node).

    Two node sources, planned differently on purpose:

    * constants (``DESCRIBE <x> <y>``) compile to ONE pruned scan with
      ``subj IN (...) OR obj IN (...)`` — the Or of two In filters
      pushes to parquet, no join at all;
    * variables need a WHERE block that binds them (required-side only
      — describing an OPTIONAL variable would describe NULL); the
      solved node set is stacked into one column, deduplicated, and the
      edge table is LEFT-SEMI-joined against it twice (subject end,
      object end). Each semi-join is AQE-planned (broadcast when the
      node set is small — the common case — shuffle otherwise), and the
      two ends union BEFORE a final set-dedup, since an edge between
      two described nodes must appear once, not twice.

    Output is a GRAPH (a set): duplicates are dropped. The one exchange
    this costs is the same price construct() pays for set semantics.
    """
    m = _DESCRIBE_RE.match(query)
    if not m:
        raise ValueError("not a DESCRIBE query")
    src, rel, dst = cols
    consts, varnames = [], []
    pos = 0
    head = m.group(1)
    for tm in _TERM_RE.finditer(head):
        if head[pos : tm.start()].strip():
            raise ValueError(f"bad DESCRIBE term list: {head!r}")
        value, is_var = _term(tm.group(0))
        (varnames if is_var else consts).append(value)
        pos = tm.end()
    if head[pos:].strip() or not (consts or varnames):
        raise ValueError(f"bad DESCRIBE term list: {head!r}")
    if varnames and m.group(2) is None:
        raise ValueError("DESCRIBE with variables needs a WHERE block")
    nodes = None
    if varnames:
        q = parse_bgp(
            "SELECT DISTINCT "
            + " ".join(f"?{v}" for v in varnames)
            + " WHERE {"
            + m.group(2)
            + "}"
        )
        required = set().union(*[p.variables() for p in q.patterns]) if q.patterns else (
            set().intersection(*[br.variables() for br in q.unions]) if q.unions else set()
        )
        missing = [v for v in varnames if v not in required]
        if missing:
            raise ValueError(
                f"DESCRIBE variables not bound by the required pattern: {missing}"
            )
        sols = bgp(edges, q, cols=cols, allow_product=allow_product)
        acc = None
        for v in varnames:
            col = sols.select(F.col(v).alias("__node"))
            acc = col if acc is None else acc.unionByName(col)
        nodes = acc.dropDuplicates()
    out = None
    if consts:
        out = edges.filter(
            F.col(src).isin(*consts) | F.col(dst).isin(*consts)
        ).select(*cols)
    if nodes is not None:
        for end in (src, dst):
            part = edges.join(
                nodes, on=F.col(end) == F.col("__node"), how="left_semi"
            ).select(*cols)
            out = part if out is None else out.unionByName(part)
    return out.dropDuplicates()
