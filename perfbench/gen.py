"""Seeded generator of meta_frame pipeline configs for the config_tree workload.

Every config comes with DuckDB SQL that computes the same result over the
same parquet tables, written to the oracle determinism rules of
src/main/scala/graft/queries/Registry.scala: a total ORDER BY on a unique
key with the null placement stated, double sums through the DECIMAL(25,6)
trick (`dsum`), and integer sums cast to BIGINT.

The grammar: a table source, filters, derive, keep_columns, group_by with
count / sum / dsum / min / max / count_distinct, rename, children joins (up
to depth 3, fan-out up to 4, prefix on), iteration x level cascades, shared
`defs` subtrees referenced by `ref` (some with `cache: true`), and a total
order_by plus limit on the root.

A pass is one config from each stratum of STRATA; a config's structure
follows the pass number and its details follow the seed (see `generate`).

    python3 perfbench/gen.py --seed 7 --passes 2   # prints the configs
"""
import argparse
import json
import random

# column -> (type, pool). A pool is ("vals", [...]) for low-cardinality
# columns and ("range", [quantiles]) for numeric ones; both are the sf0.1
# distribution, so literals drawn from them keep filters selective but never
# empty. Timestamp columns are left out of every frame.
TABLES = {
    "region": {"r_regionkey": ("int", ("vals", [0, 1, 2, 3, 4])),
               "r_name": ("str", ("vals", ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]))},
    "nation": {"n_nationkey": ("int", ("range", [2, 6, 12, 18, 22])),
               "n_name": ("str", None),
               "n_regionkey": ("int", ("vals", [0, 1, 2, 3, 4]))},
    "customer": {"c_custkey": ("long", ("range", [1499, 3749, 7499, 11249, 13499])),
                 "c_name": ("str", None),
                 "c_nationkey": ("int", ("range", [2, 6, 12, 18, 22])),
                 "c_acctbal": ("double", ("range", [126.84, 1756.59, 4598.06, 7308.27, 8916.6])),
                 "c_mktsegment": ("str", ("vals", ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                                   "HOUSEHOLD", "MACHINERY"]))},
    "supplier": {"s_suppkey": ("long", ("range", [99, 249, 499, 749, 899])),
                 "s_name": ("str", None),
                 "s_nationkey": ("int", ("range", [2, 6, 12, 18, 22])),
                 "s_acctbal": ("double", ("range", [157.77, 1851.24, 4595.99, 7220.78, 8926.55]))},
    "part": {"p_partkey": ("long", ("range", [1999, 4999, 9999, 14999, 17999])),
             "p_name": ("str", None),
             "p_brand": ("str", ("vals", ["Brand#1", "Brand#12", "Brand#23", "Brand#7", "Brand#19"])),
             "p_type": ("str", ("vals", ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])),
             "p_size": ("int", ("range", [6, 13, 25, 38, 45])),
             "p_retailprice": ("double", ("range", [909.9, 924.9, 949.9, 974.9, 989.9]))},
    "orders": {"o_orderkey": ("long", ("range", [14999, 37499, 74999, 112499, 134999])),
               "o_custkey": ("long", ("range", [1493, 3739, 7492, 11238, 13504])),
               "o_orderstatus": ("str", ("vals", ["F", "O", "P"])),
               "o_totalprice": ("double", ("range", [50696.87, 125116.62, 249938.02,
                                                     375053.13, 449843.87])),
               "o_orderpriority": ("str", ("vals", ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                    "4-NOT SPECIFIED", "5-LOW"]))},
    "lineitem": {"l_orderkey": ("long", ("range", [14962, 37483, 74966, 112446, 134964])),
                 "l_partkey": ("long", ("range", [2013, 5008, 9994, 14992, 17994])),
                 "l_suppkey": ("long", ("range", [100, 251, 500, 750, 899])),
                 "l_linenumber": ("int", ("vals", [1, 2, 3, 4, 5, 6, 7])),
                 "l_quantity": ("double", ("range", [5.0, 13.0, 25.0, 38.0, 45.0])),
                 "l_extendedprice": ("double", ("range", [11331.46, 26960.27, 52923.11,
                                                          78997.02, 94602.44])),
                 "l_discount": ("double", ("range", [0.01, 0.03, 0.05, 0.07, 0.09])),
                 "l_tax": ("double", ("range", [0.01, 0.02, 0.04, 0.06, 0.07])),
                 "l_returnflag": ("str", ("vals", ["A", "N", "R"])),
                 "l_linestatus": ("str", ("vals", ["F", "O"]))},
}
PK = {"region": ["r_regionkey"], "nation": ["n_nationkey"], "customer": ["c_custkey"],
      "supplier": ["s_suppkey"], "part": ["p_partkey"], "orders": ["o_orderkey"],
      "lineitem": ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]}
# (table, column) -> the table whose single-column primary key it references
FK = {("nation", "n_regionkey"): "region", ("customer", "c_nationkey"): "nation",
      ("supplier", "s_nationkey"): "nation", ("orders", "o_custkey"): "customer",
      ("lineitem", "l_orderkey"): "orders", ("lineitem", "l_partkey"): "part",
      ("lineitem", "l_suppkey"): "supplier"}
# Keys with more than ~1,000 distinct values: never grouped on except by a
# rollup child, so group-bys stay aggregate-scale.
HIGH_CARD = {"l_orderkey", "l_partkey", "o_orderkey", "o_custkey", "c_custkey", "p_partkey"}
# Reading these as a child costs a join against a large frame; children
# read the smaller tables only, so execution stays small next to compile.
LARGE = {"lineitem", "orders"}

# One config per stratum per pass: (shape, root tables, node range).
STRATA = [
    ("flat", ["customer", "part", "orders", "supplier", "lineitem"], (1, 1)),
    ("tree", ["orders", "customer", "supplier", "lineitem"], (3, 6)),
    ("tree", ["orders", "customer"], (18, 25)),
    ("cascade", ["lineitem", "orders", "customer", "part"], (3, 7)),
    ("defs", ["orders", "customer", "lineitem"], (5, 10)),
]


class Col:
    __slots__ = ("name", "type", "pool", "ref")

    def __init__(self, name, typ, pool=None, ref=None):
        self.name, self.type, self.pool, self.ref = name, typ, pool, ref

    def as_(self, name, keep_ref=True):
        return Col(name, self.type, self.pool, self.ref if keep_ref else None)


class Frame:
    """A node's output: ordered columns, a unique key and its source table."""

    def __init__(self, cols, key, table):
        self.cols, self.key, self.table = list(cols), list(key), table

    def names(self):
        return [c.name for c in self.cols]

    def get(self, name):
        return next(c for c in self.cols if c.name == name)


def base_frame(table):
    cols = [Col(n, t, p, FK.get((table, n))) for n, (t, p) in TABLES[table].items()]
    # a single-column primary key can be joined from its referencing tables
    if len(PK[table]) == 1:
        k = next(c for c in cols if c.name == PK[table][0])
        k.ref = table
    return Frame(cols, PK[table], table)


def dbl(v):
    return f"CAST({float(v)!r} AS DOUBLE)"


def sql_lit(v, typ):
    if typ == "str":
        return "'" + str(v).replace("'", "''") + "'"
    return dbl(v) if typ == "double" else str(int(v))


def json_lit(v, typ):
    return float(v) if typ == "double" else (v if typ == "str" else int(v))


AGG_SQL = {"count": "COUNT({x})", "min": "MIN({x})", "max": "MAX({x})",
           "count_distinct": "COUNT(DISTINCT {x})", "sum": "CAST(SUM({x}) AS BIGINT)",
           "dsum": "CAST(SUM(CAST({x} AS DECIMAL(25,6))) AS DOUBLE)"}
# how a cascade's next level re-aggregates an aggregate's output
REAGG = {"count": "sum", "sum": "sum", "dsum": "dsum", "min": "min", "max": "max",
         "count_distinct": "max"}


class Gen:
    """Draws one config. `shape` draws what sets its cost: tables, node
    count, joins and join types, group keys, defs and caching, cascade
    levels, how many derives and filters and the share of rows each filter
    keeps, count_distinct. `rng` draws every other detail: the derive
    expressions, filter columns and literals, kept columns, aggregate
    functions, renames, order directions and the limit."""

    def __init__(self, shape, rng, def_share):
        self.shape, self.rng = shape, rng
        self.def_share = def_share  # share of new lookups that become defs
        self.seq = 0
        self.nodes = 0
        self.defs = []      # (id, json, sql)
        self.def_of = {}    # table -> (id, frame) of a def reusable as a lookup

    def fresh(self, prefix):
        self.seq += 1
        return f"{prefix}{self.seq}"

    # ---- node steps, in the compiler's order ---------------------------

    def derives(self, f, n):
        out = []
        for _ in range(n):
            c = self.rng.choice(f.cols)
            name = self.fresh("dv")
            r = self.rng.random()
            if c.type == "double" and c.pool and c.pool[0] == "range":
                if r < 0.5:
                    k = self.rng.randint(2, 9)
                    e, col = f"{c.name} * {k}", Col(name, "double", ("range", [q * k for q in c.pool[1]]))
                else:
                    q = self.rng.choice(c.pool[1])
                    e = f"CASE WHEN {c.name} > {dbl(q)} THEN 'hi' ELSE 'lo' END"
                    col = Col(name, "str", ("vals", ["hi", "lo"]))
            elif c.type in ("int", "long"):
                k = self.rng.randint(2, 13)
                e, col = f"{c.name} % {k}", Col(name, c.type, ("vals", list(range(k))))
            elif c.type == "str" and c.pool:
                if r < 0.5:
                    e, col = f"lower({c.name})", Col(name, "str", ("vals", [v.lower() for v in c.pool[1]]))
                else:
                    k = self.rng.randint(1, 3)
                    e = f"substring({c.name}, 1, {k})"
                    col = Col(name, "str", ("vals", sorted({v[:k] for v in c.pool[1]})))
            else:
                e, col = f"length({c.name})", Col(name, "int", None)
            out.append((name, e, col))
            f = Frame(f.cols + [col], f.key, f.table)
        return out, f

    def filters(self, f, n):
        """`n` filters, each keeping about half or three quarters of the
        rows (the share is structure, the column and literal detail)."""
        spark, sql = [], []
        # one filter per column: two on one column could contradict
        cands = [c for c in f.cols if c.pool]
        for c in self.rng.sample(cands, min(n, len(cands))):
            half = self.shape.random() < 0.5
            kind, pool = c.pool
            if kind == "vals":
                if half:
                    vals = self.rng.sample(pool, (len(pool) + 1) // 2)
                    spark.append({"col": c.name, "op": "isin",
                                  "value": [json_lit(v, c.type) for v in vals]})
                    sql.append(f"{c.name} IN ({', '.join(sql_lit(v, c.type) for v in vals)})")
                else:
                    v = self.rng.choice(pool)
                    spark.append({"col": c.name, "op": "!=", "value": json_lit(v, c.type)})
                    sql.append(f"{c.name} <> {sql_lit(v, c.type)}")
            else:
                # pool = the 10/25/50/75/90% quantiles
                op = self.rng.choice([">", ">=", "<", "<="])
                q = pool[2] if half else pool[1] if op[0] == ">" else pool[3]
                text = f"{c.name} {op} {sql_lit(q, c.type)}"
                if self.rng.random() < 0.4:
                    spark.append(text)
                else:
                    spark.append({"col": c.name, "op": op, "value": json_lit(q, c.type)})
                sql.append(text)
        return spark, sql

    def aggregations(self, f, keys, n):
        aggs, sql, cols = [], [], []
        others = [c for c in f.cols if c.name not in keys]
        # a count_distinct adds an Expand and a shuffle, and costs more over
        # a derived column: both are structure, at most one per group-by
        distinct = others and self.shape.random() < 0.3
        if distinct:
            derived = [c for c in others if c.name not in TABLES[f.table]]
            base = [c for c in others if c.name in TABLES[f.table]]
            distinct = (derived if derived and self.shape.random() < 0.5 else base) or others
        for i in range(n):
            c = self.rng.choice(others) if others and i else None
            if c is None:
                func, x = "count", "*"
            elif distinct and i == n - 1:
                func, x = "count_distinct", self.rng.choice(distinct).name
                c = f.get(x)
            else:
                funcs = ["min", "max"]
                funcs += ["dsum"] if c.type == "double" else ["sum"] if c.type in ("int", "long") else []
                func, x = self.rng.choice(funcs), c.name
            name = self.fresh("ag")
            aggs.append({"col": x, "func": func, "new_name": name})
            sql.append(AGG_SQL[func].format(x=x) + f" AS {name}")
            typ = c.type if func in ("min", "max") else "double" if func == "dsum" else "long"
            cols.append((Col(name, typ), func))
        return aggs, sql, cols

    @staticmethod
    def group_cands(f):
        """Source columns (not derived ones, so the structure does not
        follow the details) that group to aggregate scale."""
        return [c.name for c in f.cols if c.name in TABLES[f.table]
                and c.name not in HIGH_CARD and (c.ref or c.pool and c.pool[0] == "vals")]

    # ---- nodes -----------------------------------------------------------

    def node(self, table, *, depth, budget, role, link=None, fk=None):
        """One node over `table`. role: "root"; "def" (a shared lookup
        stage, unique on the table's key); "lookup" (the same, key renamed
        to `link`); "rollup" (grouped on column `fk`, renamed to `link`).
        Returns (json, sql, frame); `budget` is the most nodes its
        descendants may add."""
        self.nodes += 1
        rng = self.rng
        j = {"id": self.fresh({"root": "root", "def": "d"}.get(role, "c"))}
        j["source"] = {"table": table}
        f = base_frame(table)
        s = f"SELECT * FROM {table}"
        ders, f = self.derives(f, self.shape.choice([0, 0, 1, 2]))
        for name, e, _ in ders:
            s = f"SELECT *, {e} AS {name} FROM ({s}) t"
        if ders:
            j["derive"] = {name: e for name, e, _ in ders}
        fs, fsql = self.filters(f, self.shape.choice([0, 1, 1, 2, 3]))
        if fs:
            j["filters"] = fs
            s = f"SELECT * FROM ({s}) t WHERE " + " AND ".join(f"({x})" for x in fsql)
        group = None
        if role == "rollup":
            group = [fk]
        elif role == "root" and self.shape.random() < 0.5:
            cands = self.group_cands(f)
            joinable = [c for c in cands if f.get(c).ref not in (None, table)]
            if budget and joinable:
                # a tree root keeps a joinable key, or it could have no children
                first = self.shape.choice(joinable)
                group = [first] + self.shape.sample([c for c in cands if c != first],
                                                    self.shape.randint(0, 1))
            elif not budget and cands:
                group = self.shape.sample(cands, min(len(cands), self.shape.randint(1, 2)))
        if not group:
            # keep (group-bys project by themselves; keep_columns next to a
            # group_by would ride the aggregate as any_value): the key,
            # every joinable column, and a random share of the rest
            keep = [c.name for c in f.cols if c.name in f.key or c.ref or rng.random() < 0.5]
            j["keep_columns"] = keep
            f = Frame([f.get(n) for n in keep], f.key, f.table)
            s = f"SELECT {', '.join(keep)} FROM ({s}) t"
        else:
            aggs, asql, acols = self.aggregations(f, group, self.shape.randint(1, 4))
            j["group_by"] = group
            j["aggregations"] = aggs
            s = f"SELECT {', '.join(group)}, {', '.join(asql)} FROM ({s}) t GROUP BY {', '.join(group)}"
            f = Frame([f.get(g) for g in group] + [c for c, _ in acols], group, f.table)

        rename = {}
        if role == "lookup":
            rename[f.key[0]] = link
        elif role == "rollup":
            rename[fk] = link
        elif rng.random() < 0.3:
            c = rng.choice([c for c in f.cols if c.name not in f.key] or [None])
            if c is not None:
                rename[c.name] = c.name + "_r"
        if rename:
            j["rename"] = rename
            s = "SELECT " + ", ".join(f"{n} AS {rename[n]}" if n in rename else n
                                      for n in f.names()) + f" FROM ({s}) t"
            f = Frame([c.as_(rename.get(c.name, c.name)) for c in f.cols],
                      [rename.get(k, k) for k in f.key], f.table)

        j, s, f = self.children(j, s, f, depth, budget)
        return j, s, f

    def children(self, j, s, f, depth, budget):
        """Join up to four child pipelines onto frame `f`."""
        rng = self.rng
        if depth >= 3 or budget <= 0:
            return j, s, f
        kids = []
        shape = self.shape
        while budget > 0 and len(kids) < 4 and not (kids and shape.random() < 0.2):
            opts = []
            # lookups: a column referencing another table's key
            for c in f.cols:
                if c.ref and c.ref != f.table:
                    opts.append(("lookup", c.ref, c.name, None))
            # rollups: the frame's single-column key is referenced by a table
            if len(f.key) == 1 and f.get(f.key[0]).ref:
                target = f.get(f.key[0]).ref
                for (t, col), ref in FK.items():
                    if ref == target:
                        opts.append(("rollup", t, f.key[0], col))
            opts = [o for o in opts if o[1] not in LARGE]
            if not opts:
                break
            role, table, link, fk = shape.choice(opts)
            before = self.nodes
            # a share of what is left for this child's own subtree; the
            # fourth child may take all of it
            left, slots = budget - 1, 4 - len(kids)
            sub = left if slots == 1 else shape.randint(left // slots, left)
            if role == "lookup" and (table in self.def_of or shape.random() < self.def_share):
                cj, cs, cf = self.lookup_ref(table, link, depth, sub)
            else:
                cj, cs, cf = self.node(table, depth=depth + 1, budget=sub, role=role,
                                       link=link, fk=fk)
            budget -= self.nodes - before
            # an inner join on a filtered child can empty the whole tree,
            # so only unfiltered children may join inner
            inner = "filters" not in cj and shape.random() < 0.5
            cj["join"] = {"on": [link], "how": "inner" if inner else "left"}
            cj["prefix"] = True
            kids.append(cj)
            cid = cj["id"]
            payload = [c for c in cf.cols if c.name != link]
            sel = ", ".join(["p.*"] + [f"c.{c.name} AS {cid}_{c.name}" for c in payload])
            how = "JOIN" if cj["join"]["how"] == "inner" else "LEFT JOIN"
            s = f"SELECT {sel} FROM ({s}) p {how} ({cs}) c ON p.{link} = c.{link}"
            f = Frame(f.cols + [c.as_(f"{cid}_{c.name}", keep_ref=False) for c in payload],
                      f.key, f.table)
        if kids:
            j["children"] = kids
        return j, s, f

    def lookup_ref(self, table, link, depth, budget):
        """A lookup child that reads a shared def of `table` by ref; the
        def is made on first use and reused by later lookups."""
        if table not in self.def_of:
            dj, ds, df = self.node(table, depth=depth + 1, budget=budget, role="def")
            if self.shape.random() < 0.5:
                dj["cache"] = True
            self.defs.append((dj["id"], dj, ds))
            self.def_of[table] = (dj["id"], df)
        did, df = self.def_of[table]
        self.nodes += 1
        cid = self.fresh("c")
        key = df.key[0]
        cj = {"id": cid, "source": {"ref": did}, "rename": {key: link}}
        cols = [c.as_(link if c.name == key else c.name) for c in df.cols]
        s = "SELECT " + ", ".join(f"{c.name} AS {link}" if c.name == key else c.name
                                  for c in df.cols) + f" FROM {did}"
        return cj, s, Frame(cols, [link], df.table)

    # ---- whole configs ---------------------------------------------------

    def finish(self, j, s, f):
        """Total order on the unique key, then a limit."""
        rng = self.rng
        order, osql = [], []
        for k in f.key:
            d = rng.choice(["asc", "desc"])
            order.append(f"{k} {d}")
            osql.append(f"{k} {'ASC NULLS FIRST' if d == 'asc' else 'DESC NULLS LAST'}")
        limit = rng.randint(5, 50)
        j["order_by"] = order
        j["limit"] = limit
        return f"SELECT * FROM ({s}) t ORDER BY " + ", ".join(osql) + f" LIMIT {limit}"

    def tree(self, table, lo, hi):
        target = self.shape.randint(lo, hi)
        j, s, f = self.node(table, depth=0, budget=target - 1, role="root")
        s = self.finish(j, s, f)
        if self.defs:
            j = {"defs": [d for _, d, _ in self.defs], **j}
            s = "WITH " + ", ".join(f"{i} AS ({q})" for i, _, q in self.defs) + " " + s
        return j, s

    def cascade(self, table, lo, hi):
        """iterations x levels; only the last iteration is the result, the
        earlier ones are compiled but never run (no sinks)."""
        rng = self.rng
        its = []
        for i in range(self.shape.randint(1, 3)):
            levels, s, f = self.levels(table, self.shape.randint(max(2, lo - 1), min(4, hi - 1)))
            its.append({"id": f"it{i + 1}", "levels": levels})
        last = its[-1]["levels"][-1]
        s = self.finish(last, s, f)
        self.nodes = 1 + sum(len(it["levels"]) for it in its)
        return {"source": {"table": table}, "iterations": its}, s

    def levels(self, table, n):
        rng = self.rng
        f = base_frame(table)
        s = f"SELECT * FROM {table}"
        l1 = {}
        ders, f = self.derives(f, self.shape.choice([0, 1, 2]))
        for name, e, _ in ders:
            s = f"SELECT *, {e} AS {name} FROM ({s}) t"
        if ders:
            l1["derive"] = {name: e for name, e, _ in ders}
        fs, fsql = self.filters(f, self.shape.choice([0, 1, 2]))
        if fs:
            l1["filters"] = fs
            s = f"SELECT * FROM ({s}) t WHERE " + " AND ".join(f"({x})" for x in fsql)
        cands = self.group_cands(f)
        group = self.shape.sample(cands, min(len(cands), self.shape.randint(2, 3)))
        aggs, asql, acols = self.aggregations(f, group, self.shape.randint(1, 4))
        l1["group_by"] = group
        l1["aggregations"] = aggs
        s = f"SELECT {', '.join(group)}, {', '.join(asql)} FROM ({s}) t GROUP BY {', '.join(group)}"
        f = Frame([f.get(g) for g in group] + [c for c, _ in acols], group, f.table)
        levels = [l1]
        for _ in range(n - 1):
            lv = {}
            if len(group) > 1 and self.shape.random() < 0.7:
                group = group[:-1]
                aggs, asql, new = [], [], []
                for c, func in acols:
                    name = self.fresh("ag")
                    g = REAGG[func]
                    aggs.append({"col": c.name, "func": g, "new_name": name})
                    asql.append(AGG_SQL[g].format(x=c.name) + f" AS {name}")
                    new.append((Col(name, "double" if g == "dsum" else c.type), g))
                acols = new
                lv["group_by"] = group
                lv["aggregations"] = aggs
                s = (f"SELECT {', '.join(group)}, {', '.join(asql)} FROM ({s}) t "
                     f"GROUP BY {', '.join(group)}")
                f = Frame([f.get(g) for g in group] + [c for c, _ in acols], group, f.table)
            else:
                fs, fsql = self.filters(f, 1)
                if fs:
                    lv["filters"] = fs
                    s = f"SELECT * FROM ({s}) t WHERE " + " AND ".join(f"({x})" for x in fsql)
            levels.append(lv)
        return levels, s, f


def draw(shape, rng, stratum):
    kind, tables, (lo, hi) = stratum
    g = Gen(shape, rng, def_share=0.9 if kind == "defs" else 0.2)
    table = shape.choice(tables)
    if kind == "cascade":
        j, s = g.cascade(table, lo, hi)
    else:
        j, s = g.tree(table, lo, hi)
    return j, s, g.nodes


def generate(seed, passes):
    """`passes` lists of pipelines: {id, slot, kind, config, sql, nodes}.

    A config's structure comes from its stratum alone, so every pass of
    every seed runs the same shapes and sizes, and runs compare; the
    details, and the order within a pass, come from the seed."""
    rng = random.Random(seed)
    out = []
    for p in range(passes):
        row = []
        for i, st in enumerate(STRATA):
            shape = random.Random(i)
            j, s, n = draw(shape, rng, st)
            row.append({"id": f"p{p}_{i}", "slot": f"stratum{i}", "kind": "config",
                        "config": json.dumps(j), "sql": s, "nodes": n})
        if p:
            # pass 0 (the cold pass) keeps the stratum order: the first
            # pipeline of a fresh JVM pays for its warm-up, and which one
            # that is should not follow the seed
            rng.shuffle(row)
        out.append(row)
    return out


if __name__ == "__main__":
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--passes", type=int, default=1)
    a = ap.parse_args()
    for row in generate(a.seed, a.passes):
        for p in row:
            print(json.dumps(p))
