"""Solr Streaming Expressions — the /stream handler's expression
language, compiled to DataFrame plans.

Reference surface: Solr's /stream endpoint evaluates a composable
expression language over sorted tuple streams (backed by /export):

    rollup(search(logs, q="*:*", fq="status:200", fl="host,bytes",
                  sort="host asc"),
           over="host", sum(bytes), count(*))

with decorators like select/top/unique/sort/having and joins
(innerJoin/hashJoin/merge). It is how Solr users run aggregations,
joins and ETL over full result sets — Solr's MapReduce.

Spark-first shape — the expression tree IS a logical plan, so this
module is a thin COMPILER, not an engine:

- ``parse_expression`` is a ~60-line recursive-descent parser for the
  function-call syntax (identifiers, ``key=value`` named params,
  quoted strings, nested calls);
- ``compile_stream`` maps each stream function onto the Catalyst
  operator with the same semantics: search -> pushed filter +
  projection (round 9: text ``q=`` compiles through the boolean match
  machinery when an index is registered), rollup/facet -> hash
  aggregate, timeseries -> windowed aggregate, innerJoin/hashJoin ->
  join, intersect/complement -> semi/anti join, cartesianProduct ->
  explode, top -> TakeOrdered, unique -> one-row-per-key aggregate,
  merge -> union, select -> projection (with Solr EVALUATOR operands:
  if/eq/gt/lt/and/or/not/add/sub/mult/div/replace compile to Catalyst
  expressions), having -> filter, sort -> global order, parallel -> a
  repartition hint (a Spark plan is already parallel),
  significantTerms -> foreground-vs-background term lift over the
  collection's index (search/terms.significant_terms), nodes
  (gatherNodes) -> one breadth hop per call (frontier values join the
  collection, no broadcast hint — nest calls to walk further, exactly
  Solr's shape), shortestPath -> level-synchronous BFS returning all
  shortest ``path`` arrays, knnSearch -> the MLT pipeline
  (search/mlt.more_like_this), random -> a seeded-md5 deterministic
  sample (Solr's random sort is unseedable; the hash twin is
  reproducible cross-engine), update -> an EAGER upsert sink over
  index/maintenance.upsert_docs (replaces the registered index +
  collection, yields the summary tuple), let/get -> scoped collection
  bindings, topic -> checkpointed incremental pull (version-above-
  checkpoint filter, pinned delta, checkpoint advance), daemon -> a
  registered re-runner (Daemon.run_once / interval thread) so
  daemon(update(d, topic(ck, src))) is Solr's continuous-ingest idiom
  verbatim, scoreNodes -> tf*idf node relevance over a named
  collection/field (collection= and field= are explicit params — the
  per-tuple stream context they ride in Solr is a serving-protocol
  artifact);
- still absent, documented: jdbc (env-blocked: no driver jars); for
  production-grade continuous ingest prefer Structured Streaming
  (solrtexttagger_spark/streaming/) over daemon threads;
- Solr's sort PRECONDITIONS vanish: /stream demands the underlying
  stream be sorted by the ``over``/``on`` keys because its rollup and
  merge-join are single-pass streaming operators — a hash aggregate
  and hash join need no such order, so expressions that Solr rejects
  ("Invalid rollup: the stream is not sorted by over=...") simply run
  here. ``sort=`` on search is therefore honored but optional.
- Catalyst then fuses the whole tree: filters push into the scan,
  projections prune columns, the aggregate is map-side partial — the
  expression author gets the optimizer for free, which the reference's
  tuple-at-a-time decorators cannot do.

Final order: like /stream, only the OUTERMOST sort/top/merge order is
meaningful; an unsorted outermost stream returns in partition order.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

from solrtexttagger_spark.plans import local_frame

# ---------- parser ----------

_TOKEN = re.compile(
    r"""\s*(?:
        (?P<string>"(?:[^"\\]|\\.)*")
      | (?P<num>-?\d+(?:\.\d+)?)
      | (?P<name>[A-Za-z_][A-Za-z0-9_.]*)
      | (?P<punct>[(),=*])
    )""",
    re.X,
)


class Expr:
    """One node: a function call ``name(args..., key=value...)`` or a
    literal/identifier leaf."""

    def __init__(self, name, args=None, params=None):
        self.name = name
        self.args = args or []      # positional Expr/literal children
        self.params = params or {}  # named string/number params

    def __repr__(self):  # debugging aid
        inner = ", ".join(
            [repr(a) for a in self.args]
            + [f"{k}={v!r}" for k, v in self.params.items()]
        )
        return f"{self.name}({inner})"


def _tokens(s: str):
    pos = 0
    while pos < len(s):
        m = _TOKEN.match(s, pos)
        if not m:
            if s[pos:].strip() == "":
                break
            raise ValueError(f"bad token at {s[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group(kind)
        if kind == "string":
            text = text[1:-1].replace('\\"', '"')
        yield kind, text
    yield "end", ""


def parse_expression(s: str) -> Expr:
    toks = list(_tokens(s))
    idx = [0]

    def peek():
        return toks[idx[0]]

    def eat(kind=None, text=None):
        k, t = toks[idx[0]]
        if (kind and k != kind) or (text and t != text):
            raise ValueError(f"expected {text or kind}, got {t!r}")
        idx[0] += 1
        return t

    def call():
        name = eat("name")
        if peek() != ("punct", "("):
            return Expr(name)  # bare identifier leaf
        eat("punct", "(")
        node = Expr(name)
        while peek() != ("punct", ")"):
            k, t = peek()
            if k == "name" and toks[idx[0] + 1] == ("punct", "="):
                key = eat("name")
                eat("punct", "=")
                kk, vv = peek()
                if kk == "string":
                    node.params[key] = eat("string")
                elif kk == "num":
                    v = eat("num")
                    node.params[key] = float(v) if "." in v else int(v)
                elif kk == "name":
                    # a named param may bind a nested STREAM (Solr's
                    # let(a=search(...), ...)) — lookahead for "("
                    if toks[idx[0] + 1] == ("punct", "("):
                        node.params[key] = call()
                    else:
                        node.params[key] = eat("name")
                else:
                    raise ValueError(f"bad value for {key}: {vv!r}")
            elif k == "punct" and t == "*":
                eat("punct", "*")
                node.args.append(Expr("*"))
            elif k == "name":
                node.args.append(call())
            elif k in ("string", "num"):
                node.args.append(eat(k))
            else:
                raise ValueError(f"unexpected {t!r}")
            if peek() == ("punct", ","):
                eat("punct", ",")
        eat("punct", ")")
        return node

    out = call()
    if peek()[0] != "end":
        raise ValueError(f"trailing input after expression: {peek()[1]!r}")
    return out


# ---------- compiler ----------

_METRICS = {"sum": F.sum, "min": F.min, "max": F.max, "avg": F.avg,
            "count": None}


def _metric(e: Expr):
    if e.name not in _METRICS:
        raise ValueError(f"unknown metric {e.name!r} "
                         f"(one of {sorted(_METRICS)})")
    if e.name == "count":
        return F.count("*").cast("long").alias("count(*)")
    col = e.args[0].name if isinstance(e.args[0], Expr) else e.args[0]
    return (
        _METRICS[e.name](col).cast("double").alias(f"{e.name}({col})")
    )


# Solr stream EVALUATORS (the operand language inside select/having):
# boolean/comparison/arithmetic/conditional functions over tuple
# fields. Each compiles to the Catalyst expression with identical
# semantics; ``replace`` is Solr's EXACT-VALUE replacement (a CASE
# WHEN field = value), not a substring op.
_EVAL_BINOPS = {
    "eq": "=", "noteq": "<>", "gt": ">", "gteq": ">=",
    "lt": "<", "lteq": "<=",
    "add": "+", "sub": "-", "mult": "*", "div": "/", "mod": "%",
}


def _eval_sql(e) -> str:
    """Compile one evaluator node (Expr or literal) to a Spark SQL
    fragment."""
    if isinstance(e, str):
        # the parser yields both num and string tokens as plain str:
        # numeric text stays a numeric literal, anything else quotes
        if re.match(r"^-?\d+(\.\d+)?$", e):
            return e
        return "'" + e.replace("'", "''") + "'"
    if not isinstance(e, Expr):
        return repr(e)
    if not e.args and not e.params:
        return e.name  # bare field reference or number token
    if e.name in _EVAL_BINOPS:
        if len(e.args) < 2:
            raise ValueError(f"{e.name} needs two operands")
        op = _EVAL_BINOPS[e.name]
        out = _eval_sql(e.args[0])
        for a in e.args[1:]:
            out = f"({out} {op} {_eval_sql(a)})"
        return out
    if e.name in ("and", "or"):
        return "(" + f" {e.name.upper()} ".join(
            _eval_sql(a) for a in e.args
        ) + ")"
    if e.name == "not":
        return f"(NOT {_eval_sql(e.args[0])})"
    if e.name == "if":
        if len(e.args) != 3:
            raise ValueError("if(condition, then, else) needs 3 operands")
        c, t, f_ = (_eval_sql(a) for a in e.args)
        return f"(CASE WHEN {c} THEN {t} ELSE {f_} END)"
    if e.name == "replace":
        # replace(field, value, withValue=v) / (field, value, withField=f)
        if len(e.args) != 2 or not (
            "withValue" in e.params or "withField" in e.params
        ):
            raise ValueError(
                "replace needs (field, value, withValue=|withField=)"
            )
        fld, val = _eval_sql(e.args[0]), _eval_sql(e.args[1])
        repl = (
            _eval_sql_param(e.params["withValue"])
            if "withValue" in e.params
            else str(e.params["withField"])
        )
        return f"(CASE WHEN {fld} = {val} THEN {repl} ELSE {fld} END)"
    if e.name in ("abs", "ceil", "floor", "round", "sqrt", "log", "exp",
                  "pow", "concat", "lower", "upper", "length", "trim"):
        # identical names + semantics in Spark SQL — pass through
        return f"{e.name}({', '.join(_eval_sql(a) for a in e.args)})"
    raise ValueError(f"unknown evaluator {e.name!r}")


def _eval_sql_param(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _select_col(df: DataFrame, spec: str):
    """One select operand: ``field``, ``expr as alias``, or an
    evaluator call like ``if(gt(bytes, 100), 1, 0) as big``."""
    m = re.match(r"^(.*?)\s+as\s+(\w+)$", spec, re.I)
    base = m.group(1) if m else spec
    if base in df.columns:
        # an upstream metric column is literally named "sum(bytes)"
        # — reference it as a column, never re-parse as a call
        col = F.col(base)
    elif re.match(r"^[A-Za-z_][A-Za-z0-9_]*\(", base):
        # evaluator syntax: parse with the expression parser, compile
        # to SQL (Solr's select operands are evaluator calls)
        col = F.expr(_eval_sql(parse_expression(base)))
    else:
        col = F.expr(base)
    return col.alias(m.group(2)) if m else col


def _sort_cols(spec: str):
    out = []
    for part in spec.split(","):
        bits = part.split()
        c = F.expr(bits[0])
        if len(bits) > 1 and bits[1].lower() == "desc":
            c = c.desc()
        else:
            c = c.asc()
        out.append(c)
    return out


def compile_stream(
    expr: Expr,
    tables: dict[str, DataFrame],
    indexes: dict | None = None,
) -> DataFrame:
    """Compile one stream-expression node to a DataFrame. ``indexes``
    maps collection name -> InvertedIndex for collections that accept
    TEXT queries in ``search(q=...)``."""

    def sub(i=0):
        return compile_stream(expr.args[i], tables, indexes)

    name = expr.name
    if name == "search":
        tbl = expr.args[0].name if expr.args else expr.params.get("collection")
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        df = tables[tbl]
        q = expr.params.get("q", "*:*")
        if q != "*:*":
            # round 9 (r8 verdict #7): a text q compiles through the
            # boolean/BM25 machinery — the match set semi-joins the
            # collection (or inner-joins when fl asks for score), the
            # same /export-backed shape Solr's search stream uses
            idx = (indexes or {}).get(tbl)
            if idx is None:
                raise ValueError(
                    f'search({tbl}, q={q!r}): text queries need an '
                    f"InvertedIndex registered for {tbl!r} (pass "
                    "indexes={name: index}); only q=\"*:*\" runs "
                    "index-free"
                )
            from solrtexttagger_spark.search.boolean import (
                boolean_matched_scores,
            )

            matched = boolean_matched_scores(
                idx, [(0, q)], spark=df.sparkSession
            ).select("doc_id", F.round("score", 4).alias("score"))
            fl_cols = [
                c.strip() for c in expr.params.get("fl", "").split(",") if c.strip()
            ]
            if "score" in fl_cols:
                df = df.join(matched, "doc_id")
            else:
                df = df.join(matched.select("doc_id"), "doc_id", "left_semi")
        if "fq" in expr.params:
            df = df.where(F.expr(expr.params["fq"]))
        if "fl" in expr.params:
            df = df.select(
                *[c.strip() for c in expr.params["fl"].split(",")]
            )
        if "sort" in expr.params:
            df = df.orderBy(*_sort_cols(expr.params["sort"]))
        return df
    if name == "select":
        df = sub()
        cols = []
        for a in expr.args[1:]:
            spec = a if isinstance(a, str) else a.name
            cols.append(_select_col(df, spec))
        return df.select(*cols)
    if name == "rollup":
        df = sub()
        over = [c.strip() for c in expr.params["over"].split(",")]
        metrics = [_metric(a) for a in expr.args[1:]]
        if not metrics:
            raise ValueError("rollup needs at least one metric")
        return df.groupBy(*over).agg(*metrics)
    if name == "stats":
        df = sub()
        return df.agg(*[_metric(a) for a in expr.args[1:]])
    if name == "unique":
        df = sub()
        over = [c.strip() for c in expr.params["over"].split(",")]
        # one tuple per key: deterministic min-struct pick (Solr keeps
        # the first in stream order; a hash aggregate has no order, so
        # the smallest full tuple is the stable choice, documented)
        rest = [c for c in df.columns if c not in over]
        if not rest:
            return df.distinct()
        picked = df.groupBy(*over).agg(
            F.min(F.struct(*rest)).alias("__rest")
        )
        return picked.select(*over, *[F.col(f"__rest.{c}").alias(c)
                                      for c in rest])
    if name == "top":
        df = sub()
        n = int(expr.params["n"])
        return df.orderBy(*_sort_cols(expr.params["sort"])).limit(n)
    if name == "sort":
        return sub().orderBy(*_sort_cols(expr.params["by"]))
    if name == "having":
        if "expr" in expr.params:
            cond = expr.params["expr"]
        elif len(expr.args) > 1:
            a = expr.args[1]
            cond = a if isinstance(a, str) else a.name
        else:
            raise ValueError('having needs a condition: having(stream, '
                             'expr="`count(*)` > 10")')
        return sub().where(F.expr(cond))
    if name in ("innerJoin", "hashJoin", "leftOuterJoin"):
        left, right = sub(0), compile_stream(expr.args[1], tables, indexes)
        on = [c.strip() for c in expr.params["on"].split(",")]
        how = "left" if name == "leftOuterJoin" else "inner"
        # hashJoin vs innerJoin is a physical hint in Solr (hash the
        # right side vs merge the sorted streams); Catalyst owns that
        # choice here — broadcast the right side when it is small
        return left.join(right, on, how)
    if name == "fetch":
        # fetch(stream, collection, on="key", fl="a,b"): enrich each
        # tuple with fields from another collection — Solr batches
        # point lookups; here it is one left join, broadcast when the
        # fetched side is small
        df = sub()
        tbl = expr.args[1].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        on = [c.strip() for c in expr.params["on"].split(",")]
        cols = on + [c.strip() for c in expr.params["fl"].split(",")]
        return df.join(tables[tbl].select(*cols), on, "left")
    if name == "facet":
        # facet(collection, q="*:*", fq=..., buckets="a,b", metrics...):
        # Solr's aggregation stream source — rollup straight off the
        # collection (the JSON Facet API shape as a tuple stream)
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        df = tables[tbl]
        if expr.params.get("q", "*:*") != "*:*":
            raise ValueError('facet supports q="*:*"; use fq for predicates')
        if "fq" in expr.params:
            df = df.where(F.expr(expr.params["fq"]))
        buckets = [c.strip() for c in expr.params["buckets"].split(",")]
        metrics = [_metric(a) for a in expr.args[1:]]
        if not metrics:
            raise ValueError("facet needs at least one metric")
        return df.groupBy(*buckets).agg(*metrics)
    if name in ("intersect", "complement"):
        # Solr intersect(left, right, on=): left tuples whose key
        # appears in right (complement: does NOT appear) — left
        # semi/anti hash joins; Solr's sorted-stream precondition
        # vanishes like rollup's
        left, right = sub(0), compile_stream(expr.args[1], tables, indexes)
        on = [c.strip() for c in expr.params["on"].split(",")]
        how = "left_semi" if name == "intersect" else "left_anti"
        return left.join(right.select(*on), on, how)
    if name == "cartesianProduct":
        # cartesianProduct(stream, field): one tuple per element of a
        # multivalued (array) field — exactly explode; the field name
        # keeps carrying the element, like Solr
        df = sub()
        fld = expr.args[1].name if isinstance(expr.args[1], Expr) else expr.args[1]
        rest = [c for c in df.columns if c != fld]
        return df.select(*rest, F.explode(F.col(fld)).alias(fld))
    if name == "timeseries":
        # timeseries(collection, field=ts, gap="+1HOUR", metrics...):
        # bucketed time rollup — F.window is the Catalyst twin; the
        # bucket column carries the window START like Solr's bucket
        # label. Empty gap buckets are absent (zero-fill is a response
        # format concern, documented).
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        df = tables[tbl]
        if "fq" in expr.params:
            df = df.where(F.expr(expr.params["fq"]))
        fld = expr.params["field"]
        gap = str(expr.params.get("gap", "+1HOUR"))
        mg = re.match(r"^\+?(\d+)(SECOND|MINUTE|HOUR|DAY)S?$", gap, re.I)
        if not mg:
            raise ValueError(
                f"unsupported gap {gap!r} (+N SECOND/MINUTE/HOUR/DAY)"
            )
        dur = f"{mg.group(1)} {mg.group(2).lower()}s"
        metrics = [_metric(a) for a in expr.args[1:]]
        if not metrics:
            raise ValueError("timeseries needs at least one metric")
        win = F.window(F.col(fld).cast("timestamp"), dur)
        out = df.groupBy(win.alias("__w")).agg(*metrics)
        return out.select(
            F.col("__w.start").alias(fld),
            *[F.col(c) for c in out.columns if c != "__w"],
        )
    if name == "parallel":
        # parallel(workers=N, stream) is Solr's "ship the expression to
        # N workers" decorator; a Spark plan is already distributed, so
        # the honest mapping is a partitioning hint on the inner stream
        # (workers -> repartition), never a semantics change
        inner_arg = next(a for a in expr.args if isinstance(a, Expr)
                         and (a.args or a.params))
        inner = compile_stream(inner_arg, tables, indexes)
        workers = int(expr.params.get("workers", 0))
        return inner.repartition(workers) if workers > 0 else inner
    if name == "significantTerms":
        # significantTerms(collection, q=..., minDocFreq=, maxDocFreq=,
        # limit=): foreground-vs-background term significance — needs
        # the collection's index (the terms live there, not in the
        # tuple stream)
        tbl = expr.args[0].name
        idx = (indexes or {}).get(tbl)
        if idx is None:
            raise ValueError(
                f"significantTerms({tbl}): needs an InvertedIndex "
                "registered (pass indexes={name: index})"
            )
        from solrtexttagger_spark.search.terms import significant_terms

        kw = {}
        if "minDocFreq" in expr.params:
            kw["min_doc_freq"] = float(expr.params["minDocFreq"])
        if "maxDocFreq" in expr.params:
            kw["max_doc_freq"] = float(expr.params["maxDocFreq"])
        if "limit" in expr.params:
            kw["limit"] = int(expr.params["limit"])
        return significant_terms(
            idx, str(expr.params.get("q", "*:*")),
            spark=tables[tbl].sparkSession if tbl in tables else None, **kw
        )
    if name == "nodes":
        # nodes(collection, <inner stream>, walk="src->dst",
        # gather="field"): Solr's gatherNodes — ONE breadth hop per
        # call (nesting nodes(...) walks further, like Solr). The inner
        # stream's src values join the collection's dst column; the
        # gathered field comes back DISTINCT as column "node".
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        inner = compile_stream(expr.args[1], tables, indexes)
        walk = expr.params["walk"]
        mw = re.match(r"^\s*([\w.]+)\s*->\s*([\w.]+)\s*$", walk)
        if not mw:
            raise ValueError(f'walk must be "srcField->dstField", got {walk!r}')
        src, dst = mw.group(1), mw.group(2)
        gather = expr.params.get("gather", dst)
        vals = inner.select(F.col(src).alias(dst)).where(
            F.col(dst).isNotNull()
        ).distinct()
        # no broadcast hint: the frontier value set is query-dependent
        # and unbounded (graph_qp round-9 discipline) — AQE promotes
        # small builds on its own
        gathered = (
            tables[tbl].join(vals, dst)
            .select(F.col(gather).alias("node"))
            .where(F.col("node").isNotNull())
        )
        # Solr gatherNodes aggregation: a trailing count(*) arg returns
        # per-node gather counts (feeds scoreNodes); bare nodes() stays
        # the distinct node set
        if any(isinstance(a, Expr) and a.name == "count"
               for a in expr.args[2:]):
            return gathered.groupBy("node").agg(
                F.count("*").cast("long").alias("count(*)")
            )
        return gathered.distinct()
    if name == "let":
        # let(a=<stream>, b=<stream>, <body stream>): Solr's variable
        # binding — each binding compiles IN ORDER into a scoped copy
        # of the collection namespace (later bindings and the body see
        # earlier ones as collections), then the body (the last
        # positional arg, Solr's get(a)/streaming cell) compiles
        # against that scope. Lazy like everything here: binding a
        # stream binds its PLAN, not a materialization.
        scope = dict(tables)
        for key, val in expr.params.items():
            if not isinstance(val, Expr):
                raise ValueError(f"let binding {key}= must be a stream "
                                 f"expression, got {val!r}")
            scope[key] = compile_stream(val, scope, indexes)
        if not expr.args:
            raise ValueError("let needs a body stream after the bindings")
        return compile_stream(expr.args[-1], scope, indexes)
    if name == "get":
        tbl = expr.args[0].name if expr.args else None
        if tbl not in tables:
            raise ValueError(f"get({tbl!r}): not bound "
                             f"(in scope: {sorted(tables)})")
        return tables[tbl]
    if name == "random":
        # random(collection, q="*:*", fq=, rows=N, fl=, seed=): Solr's
        # pseudo-random sample stream source. Deterministic twin: order
        # by md5(seed || fl-tuple) — a seeded hash shuffle, reproducible
        # across engines (the oracle runs the identical md5 in DuckDB),
        # where Solr uses an unseedable random sort. Plan: pushed
        # filter -> projection -> TakeOrdered(rows) on the hash.
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        df = tables[tbl]
        if expr.params.get("q", "*:*") != "*:*":
            raise ValueError('random supports q="*:*"; use fq for '
                             "predicates")
        if "fq" in expr.params:
            df = df.where(F.expr(expr.params["fq"]))
        fl = [c.strip() for c in expr.params["fl"].split(",")]
        rows = int(expr.params["rows"])
        seed = str(expr.params.get("seed", "0"))
        key = F.md5(F.concat_ws(
            "\x1f", F.lit(seed), *[F.col(c).cast("string") for c in fl]
        ))
        return df.select(*fl).orderBy(key.asc()).limit(rows)
    if name == "knnSearch":
        # knnSearch(collection, id=, qf=, rows=, mintf/mindf ignored):
        # Solr's text-similarity nearest neighbors — a More-Like-This
        # over the probe doc's top TF-IDF terms. Compiles to the
        # existing MLT pipeline (search/mlt.more_like_this): probe
        # keywords -> BM25 top-k excluding self. fl= columns come from
        # the collection; score always rides along.
        tbl = expr.args[0].name
        idx = (indexes or {}).get(tbl)
        if tbl not in tables or idx is None:
            raise ValueError(
                f"knnSearch({tbl}): needs the collection AND an "
                "InvertedIndex registered (pass indexes={name: index})"
            )
        from solrtexttagger_spark.search.mlt import more_like_this

        docs = tables[tbl]
        res = more_like_this(
            idx, docs, [int(expr.params["id"])],
            text_col=str(expr.params.get("qf", "text")),
            k=int(expr.params.get("rows", 10)),
            n_terms=int(expr.params.get("n_terms", 5)),
        ).select("doc_id", "rank", F.round("score", 4).alias("score"))
        fl_cols = [
            c.strip()
            for c in str(expr.params.get("fl", "")).split(",")
            if c.strip() and c.strip() not in ("score", "doc_id")
        ]
        if fl_cols:
            res = res.join(docs.select("doc_id", *fl_cols), "doc_id")
        return res.orderBy("rank").select(
            "doc_id", *fl_cols, "score"
        )
    if name == "shortestPath":
        # shortestPath(collection, from=, to=, edge="srcField=dstField",
        # maxDepth=): Solr's breadth-first shortest-path stream source —
        # returns ALL shortest paths as tuples with a ``path`` array.
        # Level-synchronous BFS with the graph_qp discipline: per-hop
        # localCheckpoint keeps lineage O(1); nodes reached at an
        # earlier level are anti-joined away (they cannot lie on a
        # shortest path through this level); NO broadcast hint on the
        # frontier — it is query-dependent and unbounded, AQE promotes
        # small builds on its own. threads=/partitionSize= are accepted
        # and ignored: Spark owns physical parallelism.
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        me = re.match(r"^\s*([\w.]+)\s*=\s*([\w.]+)\s*$",
                      str(expr.params["edge"]))
        if not me:
            raise ValueError('edge must be "srcField=dstField", got '
                             f"{expr.params['edge']!r}")
        src, dst = me.group(1), me.group(2)
        start, goal = str(expr.params["from"]), str(expr.params["to"])
        max_depth = int(expr.params.get("maxDepth", 6))
        spark = tables[tbl].sparkSession
        edges = (
            tables[tbl]
            .select(F.col(src).cast("string").alias("__s"),
                    F.col(dst).cast("string").alias("__d"))
            .where(F.col("__s").isNotNull() & F.col("__d").isNotNull())
            .distinct()
        )
        empty = local_frame(spark, [], "path array<string>")
        if start == goal:
            return local_frame(spark, [([start],)], "path array<string>")
        frontier = local_frame(
            spark, [(start, [start])], "node string, path array<string>"
        )
        visited = frontier.select("node")
        for _depth in range(max_depth):
            nxt = (
                frontier.join(edges, frontier["node"] == edges["__s"])
                .select(
                    F.col("__d").alias("node"),
                    F.concat(F.col("path"),
                             F.array(F.col("__d"))).alias("path"),
                )
                .join(visited, "node", "left_anti")
                .localCheckpoint()
            )
            hits = nxt.where(F.col("node") == goal).select("path")
            if hits.limit(1).count() > 0:
                return hits
            if nxt.limit(1).count() == 0:
                return empty
            visited = visited.union(
                nxt.select("node").distinct()
            ).localCheckpoint()
            frontier = nxt
        return empty
    if name == "update":
        # update(destCollection, <batch stream>): Solr's indexing sink —
        # the batch upserts into the destination (Lucene
        # delete-then-add, index/maintenance.upsert_docs) and the
        # stream yields the summary tuple. EAGER on purpose (the one
        # side-effecting stream function, like Solr's): the registered
        # index AND stored-field collection are replaced in the
        # caller's dicts so later expressions see the new docs.
        # batchSize= is accepted and ignored (a set-oriented upsert has
        # no client-side batching).
        tbl = expr.args[0].name
        idx = (indexes or {}).get(tbl)
        if tbl not in tables or idx is None:
            raise ValueError(
                f"update({tbl}): needs the collection AND an "
                "InvertedIndex registered (pass indexes={name: index})"
            )
        from solrtexttagger_spark.index.maintenance import upsert_docs

        batch = compile_stream(expr.args[1], tables, indexes)
        n = batch.count()
        spark = tables[tbl].sparkSession
        if n > 0:  # an empty pull (e.g. a drained topic) is a no-op
            indexes[tbl] = upsert_docs(indexes[tbl], batch)
            old = tables[tbl]
            tables[tbl] = (
                old.join(batch.select("doc_id"), "doc_id", "left_anti")
                .unionByName(batch, allowMissingColumns=True)
            )
        return local_frame(
            spark, [(int(n), int(indexes[tbl].doc_count))],
            "batchIndexed long, totalIndexed long",
        )
    if name == "scoreNodes":
        # scoreNodes(<nodes stream with count(*)>, collection=, field=):
        # Solr's node-relevance scorer — nodeScore = tf * idf where tf
        # is the gather count and idf = log((numDocs+1)/(docFreq+1))
        # over the named collection/field. Solr reads collection+field
        # from per-tuple stream context; this compiler takes them as
        # explicit params (documented deviation — the tuple context is
        # a serving-protocol artifact). All-lazy: numDocs rides in as a
        # scalar crossJoin, docFreq as one aggregate join; no broadcast
        # hint (the node set is query-dependent, AQE decides).
        inner = sub()
        if "count(*)" not in inner.columns:
            raise ValueError(
                "scoreNodes needs a nodes(..., count(*)) input "
                f"(got columns {inner.columns})"
            )
        tbl = expr.params["collection"]
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        fld = str(expr.params["field"])
        coll = tables[tbl]
        dfreq = (
            coll.where(F.col(fld).isNotNull())
            .groupBy(F.col(fld).cast("string").alias("node"))
            .agg(F.count("*").cast("long").alias("__df"))
        )
        ndocs = coll.agg(F.count("*").cast("long").alias("__n"))
        return (
            inner.join(dfreq, "node", "left")
            .crossJoin(ndocs)
            .select(
                "node",
                F.col("count(*)"),
                F.coalesce(F.col("__df"), F.lit(0)).alias("docFreq"),
                F.round(
                    F.col("count(*)")
                    * F.log((F.col("__n") + F.lit(1.0))
                            / (F.coalesce(F.col("__df"), F.lit(0))
                               + F.lit(1.0))),
                    4,
                ).alias("nodeScore"),
            )
        )
    if name == "topic":
        # topic(checkpointCollection, collection, id=, version_field=,
        # fl=, fq=): Solr's one-time pub-sub pull — return the rows
        # whose version is ABOVE the stored checkpoint, then advance
        # it. The checkpoint collection is a registered table name
        # (created on first pull, like Solr creates checkpoint docs);
        # EAGER like update: the returned delta is pinned
        # (localCheckpoint) so the advancing write cannot change it.
        # daemon(update(d, topic(...))) is Solr's continuous-ingest
        # idiom and works here unchanged.
        ckpt_tbl = expr.args[0].name
        tbl = expr.args[1].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r} "
                             f"(registered: {sorted(tables)})")
        topic_id = str(expr.params.get("id", "topic"))
        vfld = str(expr.params.get("version_field", "version"))
        spark = tables[tbl].sparkSession
        prev = -(1 << 62)
        if ckpt_tbl in tables:
            row = (
                tables[ckpt_tbl]
                .where(F.col("topic_id") == topic_id)
                .agg(F.max("checkpoint").alias("c"))
                .collect()
            )
            if row and row[0]["c"] is not None:
                prev = int(row[0]["c"])
        df = tables[tbl].where(F.col(vfld).cast("long") > F.lit(prev))
        if "fq" in expr.params:
            df = df.where(F.expr(expr.params["fq"]))
        # pin the delta BEFORE the fl projection: the checkpoint
        # advance needs the version column even when fl drops it
        full = df.localCheckpoint()
        delta = full
        if "fl" in expr.params:
            delta = full.select(
                *[c.strip() for c in expr.params["fl"].split(",")]
            )
        mx = full.agg(F.max(F.col(vfld).cast("long")).alias("m")).collect()
        new_ckpt = int(mx[0]["m"]) if mx and mx[0]["m"] is not None else prev
        ck_row = local_frame(
            spark, [(topic_id, new_ckpt)], "topic_id string, checkpoint long"
        )
        if ckpt_tbl in tables:
            tables[ckpt_tbl] = (
                tables[ckpt_tbl]
                .where(F.col("topic_id") != topic_id)
                .unionByName(ck_row)
                .localCheckpoint()
            )
        else:
            tables[ckpt_tbl] = ck_row.localCheckpoint()
        return delta
    if name == "daemon":
        # daemon(<inner stream>, id=, runInterval=): Solr's resident
        # re-runner — registers a Daemon that re-compiles + iterates
        # the INNER expression each run (so daemon(update(d,
        # topic(ck, src, ...))) ingests each run's new rows, Solr's
        # continuous-ingest idiom). Like Solr, the call itself returns
        # the daemon's status tuple; the registry (DAEMONS) is the
        # /stream admin surface (action=list/stop). run_once() is the
        # deterministic unit tests drive; start() spins the interval
        # thread for parity.
        inner_arg = next(
            a for a in expr.args
            if isinstance(a, Expr) and (a.args or a.params)
        )
        did = str(expr.params.get("id", "daemon"))
        interval_ms = int(expr.params.get("runInterval", 1000))
        d = Daemon(inner_arg, tables, indexes, did, interval_ms)
        DAEMONS[did] = d
        spark = next(iter(tables.values())).sparkSession
        return local_frame(
            spark, [(did, "STOPPED", interval_ms, 0)],
            "id string, state string, runInterval long, iterations long",
        )
    if name == "merge":
        parts = [compile_stream(a, tables, indexes) for a in expr.args]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if "on" in expr.params:
            out = out.orderBy(*_sort_cols(expr.params["on"]))
        return out
    if name in ("list", "plist"):
        # Solr list(a, b, ...) iterates its streams sequentially and
        # concatenates the tuples; plist opens them in parallel. A
        # Spark union IS the parallel open (stages of independent
        # children run concurrently), so both compile to one
        # unionByName — missing columns null-fill, like Solr's
        # heterogeneous tuple lists.
        parts = [compile_stream(a, tables, indexes) for a in expr.args]
        if not parts:
            raise ValueError(f"{name} needs at least one stream")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p, allowMissingColumns=True)
        return out
    if name == "echo":
        # echo("text"): Solr's diagnostic one-tuple source
        spark = next(iter(tables.values())).sparkSession
        return local_frame(
            spark, [(str(expr.args[0] if expr.args else ""),)], "echo string"
        )
    if name == "features":
        # features(col, outcome=<col>, numTerms=N): information-gain
        # term selection (FeaturesSelectionStream) — rows where the
        # outcome column is non-null are the labeled set
        from solrtexttagger_spark.search.textml import features_ig

        if not expr.args:
            raise ValueError("features(collection, ...) needs a collection")
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r}")
        idx = (indexes or {}).get(tbl)
        if idx is None:
            raise ValueError(
                f"features({tbl!r}) needs an InvertedIndex registered "
                "(pass indexes={name: index})"
            )
        oc = expr.params.get("outcome", "outcome")
        lab = tables[tbl].where(F.col(oc).isNotNull()).select(
            "doc_id", oc
        )
        return features_ig(
            idx, lab,
            n_terms=int(expr.params.get("numTerms", 10)),
            outcome_col=oc,
        )
    if name == "train":
        # train(col, features(...), outcome=, maxIterations=, alpha=):
        # TextLogitStream — one model tuple per GD iteration, PLUS a
        # final (maxIterations+1)-th tuple carrying the post-update
        # model classify() consumes; each tuple's error is the loss of
        # the weights ENTERING that iteration. Solr's TextLogitStream
        # emits exactly maxIterations tuples — the extra trailing tuple
        # is this engine's documented deviation (r9 ADVICE; see
        # textml.train_logit)
        from solrtexttagger_spark.search.textml import train_logit

        if len(expr.args) < 2:
            raise ValueError(
                "train(collection, features(...), ...) needs a "
                "collection and a feature stream"
            )
        tbl = expr.args[0].name
        if tbl not in tables:
            raise ValueError(f"unknown collection {tbl!r}")
        idx = (indexes or {}).get(tbl)
        if idx is None:
            raise ValueError(f"train({tbl!r}) needs an InvertedIndex")
        feats = compile_stream(expr.args[1], tables, indexes)
        terms = [r["term"] for r in feats.orderBy("rank").collect()]
        oc = expr.params.get("outcome", "outcome")
        lab = tables[tbl].where(F.col(oc).isNotNull()).select(
            "doc_id", oc
        )
        hist = train_logit(
            idx, lab, terms,
            iterations=int(expr.params.get("maxIterations", 10)),
            learning_rate=float(expr.params.get("alpha", 0.1)),
            outcome_col=oc,
        )
        spark = tables[tbl].sparkSession
        return local_frame(
            spark,
            [
                (m["iteration"], m["error"], m["terms"],
                 m["weights"], m["bias"])
                for m in hist
            ],
            "iteration_i long, error_d double, terms_ss array<string>, "
            "weights_ds array<double>, idfs_d double",
        ).withColumnRenamed("idfs_d", "bias_d")
    if name == "classify":
        # classify(model_stream, doc_stream, field=): score the docs
        # with the LAST model tuple (Solr reads the latest stored
        # model) — the model collect is one bounded row
        from solrtexttagger_spark.search.textml import classify_docs

        if len(expr.args) < 2:
            raise ValueError(
                "classify(model_stream, doc_stream, field=...) needs "
                "both streams"
            )
        model_df = sub(0)
        docs_df = compile_stream(expr.args[1], tables, indexes)
        last = model_df.orderBy(F.desc("iteration_i")).limit(1).collect()
        if not last:
            raise ValueError("classify: the model stream is empty")
        m = last[0]
        return classify_docs(
            docs_df,
            {"terms": list(m["terms_ss"]),
             "weights": list(m["weights_ds"]),
             "bias": float(m["bias_d"])},
            text_col=expr.params.get("field", "text"),
        )
    raise ValueError(f"unknown stream function {name!r}")


class Daemon:
    """One registered ``daemon(...)``: re-compiles and iterates its
    inner stream expression on demand (``run_once``) or on an interval
    thread (``start``/``stop``). Holds the SAME tables/indexes dicts
    the expression was compiled against, so side-effecting inners
    (update's index rebinding, topic's checkpoint advance) carry state
    between runs exactly like Solr's daemon wrapping update(topic(...)).
    """

    def __init__(self, expr: Expr, tables, indexes, daemon_id: str,
                 run_interval_ms: int):
        self._expr = expr
        self._tables = tables
        self._indexes = indexes
        self.id = daemon_id
        self.run_interval_ms = run_interval_ms
        self.iterations = 0
        self.state = "STOPPED"
        self.last_result = None
        self._stop_evt = None
        self._thread = None

    def run_once(self):
        """One daemon iteration: compile + fully iterate the inner
        stream (Solr's daemon drains its inner tuple stream each run).
        Returns the collected rows."""
        out = compile_stream(self._expr, self._tables, self._indexes)
        rows = out.collect()
        self.iterations += 1
        self.last_result = rows
        return rows

    def start(self):
        import threading

        if self._thread is not None:
            return
        self.state = "RUNNING"
        self._stop_evt = threading.Event()

        def loop():
            while not self._stop_evt.wait(self.run_interval_ms / 1000.0):
                self.run_once()

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop(self):
        if self._stop_evt is not None:
            self._stop_evt.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._thread = None
        self.state = "STOPPED"


#: /stream admin surface: id -> Daemon (action=list/start/stop twin)
DAEMONS: dict[str, Daemon] = {}


def stream(
    expression: str,
    tables: dict[str, DataFrame],
    indexes: dict | None = None,
) -> DataFrame:
    """Evaluate a /stream expression string against registered
    collections (name -> DataFrame). Returns the result relation —
    lazily; callers iterate it exactly like /stream's tuple iterator
    (``toLocalIterator``) or hand it to /export."""
    return compile_stream(parse_expression(expression), tables, indexes)
