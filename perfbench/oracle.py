"""Independent answers for every timed op, computed with DuckDB over the
same parquet tables the program reads.

The graph tables come from graft's DuckDB mirrors of its node/edge
derivation (MemoryGraph.Sql); each agent read is re-expressed here as
plain SQL over them, and agent_revise's writes are replayed as SQL
inserts and updates so every read sees the state it must observe. Batch
queries use graft's registered oracle SQL, compared as tools/check.py
does: same column names, same types up to int width, same multiset of
rows.
"""
import decimal
import glob

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
NODE_COLS = "id, ntype, content, attr, score"
PREFIX = {"fact": "fact", "dec": "decision", "ent": "entity", "evt": "event",
          "topic": "topic"}


def _lit(s):
    return "'" + str(s).replace("'", "''") + "'"


def _norm_value(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, list):
        return tuple(_norm_value(x) for x in v)
    return v


def _key(row):
    def cls(v):
        return 0 if v is None else 1 if isinstance(v, (int, float)) else 2
    return tuple((cls(v), v if v is not None else 0) for v in row)


def same_rows(got, exp):
    """Multiset equality of two row lists (rows as sequences)."""
    g = sorted((tuple(_norm_value(v) for v in r) for r in got), key=_key)
    e = sorted((tuple(_norm_value(v) for v in r) for r in exp), key=_key)
    return g == e


class Oracle:
    def __init__(self, data_dir, sql, tmp_dir):
        self.sql = sql
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 4")
        self.con.execute(f"SET temp_directory = '{tmp_dir}'")
        for t in TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        self.con.execute(f"CREATE TABLE n0 AS {sql['nodes']}")
        self.con.execute(f"CREATE TABLE e0 AS {sql['edges']}")
        self.reset()
        self._embedded = False
        self._batch = {}

    def reset(self):
        """Back to the persisted graph (an agent_revise episode start)."""
        self.con.execute("CREATE OR REPLACE TABLE n AS SELECT * FROM n0")
        self.con.execute("CREATE OR REPLACE TABLE e AS SELECT * FROM e0")

    def rows(self, q):
        return [list(r) for r in self.con.execute(q).fetchall()]

    # --- writes -------------------------------------------------------

    def write(self, op):
        k = op["op"]
        if k == "store":
            self.con.execute(f"INSERT INTO n VALUES ({_lit(op['id'])}, {_lit(op['ntype'])}, "
                             f"{_lit(op['content'])}, {_lit(op['attr'])}, {float(op['score'])})")
            e = op["edge"]
            self.con.execute(f"INSERT INTO e VALUES ({_lit(e['etype'])}, {_lit(op['id'])}, "
                             f"{_lit(e['dst'])}, '')")
        elif k == "invalidate":
            self.con.execute(f"INSERT INTO e VALUES ('invalidates', {_lit(op['new'])}, "
                             f"{_lit(op['old'])}, {_lit(op['reason'])})")
        elif k == "updateAttr":
            self.con.execute(f"UPDATE n SET attr = {_lit(op['attr'])} WHERE id = {_lit(op['id'])}")
        elif k == "storeAll":
            for r in op["nodes"]:
                self.con.execute(f"INSERT INTO n VALUES ({_lit(r['id'])}, {_lit(r['ntype'])}, "
                                 f"{_lit(r['content'])}, {_lit(r['attr'])}, {float(r['score'])})")
        else:
            raise ValueError(k)

    # --- reads --------------------------------------------------------

    def _valid(self):
        return "id NOT IN (SELECT dst FROM e WHERE etype = 'invalidates')"

    def _embed(self, text_expr):
        return self.sql["embed"].replace("__TEXT__", text_expr)

    def read(self, op):
        k = op["op"]
        if k == "node":
            nt = PREFIX.get(op["id"].split(":", 1)[0], "")
            return self.rows(f"SELECT {NODE_COLS} FROM n WHERE ntype = {_lit(nt)} "
                             f"AND id = {_lit(op['id'])}")
        if k == "findByName":
            return self.rows(f"SELECT {NODE_COLS} FROM n WHERE ntype = {_lit(op['ntype'])} "
                             f"AND lower(content) = {_lit(op['name'].lower())} "
                             f"ORDER BY id LIMIT 1")
        if k == "findFactByContent":
            return self.rows(f"SELECT {NODE_COLS} FROM n WHERE ntype = 'fact' AND "
                             f"position({_lit(op['q'])} IN content) > 0 ORDER BY id LIMIT 1")
        if k == "list":
            where = [f"ntype = {_lit(op['ntype'])}"]
            if op.get("attr") is not None:
                where.append(f"attr = {_lit(op['attr'])}")
            if op["validOnly"]:
                where.append(self._valid())
            order = f"{op['sort']} {'DESC' if op['desc'] else 'ASC'}, id"
            lo, hi = op["offset"], op["offset"] + op["limit"]
            return self.rows(f"""
              SELECT pos, id, content, attr, score, total_count FROM (
                SELECT *, ROW_NUMBER() OVER (ORDER BY {order}) AS pos,
                       COUNT(*) OVER () AS total_count
                FROM n WHERE {' AND '.join(where)}) t
              WHERE pos > {lo} AND pos <= {hi}""")
        if k == "exactSearch":
            types = ", ".join(_lit(t) for t in op["ntypes"])
            return self.rows(f"""
              SELECT ntype, rk, id, content, attr FROM (
                SELECT ntype, id, content, attr,
                       ROW_NUMBER() OVER (PARTITION BY ntype ORDER BY id) AS rk
                FROM n WHERE ntype IN ({types})
                  AND position({_lit(op['q'])} IN content) > 0) t
              WHERE rk <= {op['perType']}""")
        if k == "semanticSearch":
            return self._semantic(op)
        if k in ("inNeighbors", "outNeighbors"):
            near, far = ("dst", "src") if k == "inNeighbors" else ("src", "dst")
            return self.rows(f"""
              SELECT n.id, n.ntype, n.content, n.attr, n.score, e.prop
              FROM e JOIN n ON e.{far} = n.id
              WHERE e.etype = {_lit(op['etype'])} AND e.{near} = {_lit(op['id'])}""")
        if k == "recentContext":
            return self.rows(f"""
              WITH sec AS (
                SELECT 'fact' AS section, 5 AS lim, id, content, attr, score
                FROM n WHERE ntype = 'fact' AND {self._valid()}
                UNION ALL
                SELECT 'decision', 3, id, content, attr, score FROM n WHERE ntype = 'decision'
                UNION ALL
                SELECT 'entity', 5, id, content, attr, score FROM n WHERE ntype = 'entity'),
              ranked AS (
                SELECT section, lim, ROW_NUMBER() OVER (PARTITION BY section
                  ORDER BY CAST(regexp_extract(id, '([0-9]+)$', 1) AS BIGINT) DESC, id) AS pos,
                  id, content, attr, score FROM sec)
              SELECT section, pos, id, content, attr, score FROM ranked WHERE pos <= lim""")
        if k == "stats":
            return self.rows("""
              SELECT 'nodes_' || ntype, COUNT(*) FROM n GROUP BY ntype
              UNION ALL SELECT 'edges_' || etype, COUNT(*) FROM e GROUP BY etype""")
        if k == "walk":
            return self.rows(f"""
              WITH RECURSIVE chain AS (
                SELECT 1 AS step, src, dst, prop FROM e
                WHERE etype = {_lit(op['etype'])} AND src = {_lit(op['id'])}
                UNION ALL
                SELECT c.step + 1, x.src, x.dst, x.prop
                FROM e x JOIN chain c ON x.src = c.dst
                WHERE x.etype = {_lit(op['etype'])} AND c.step < {op['maxHops']})
              SELECT step, src, dst, prop FROM chain""")
        if k == "conflict":
            return self.batch("b7_conflict_detect")[1]
        raise ValueError(k)

    def _semantic(self, op):
        types = ", ".join(_lit(t) for t in op["ntypes"])
        if not self._embedded:
            self.con.execute(f"""
              CREATE TABLE nemb AS SELECT ntype, id,
                list_transform({self._embed('content')}, x -> CAST(x AS FLOAT)) AS emb
              FROM n0""")
            self._embedded = True
        cos = self.sql["cosine6"].replace("__A__", "emb").replace("__B__", "q_emb")
        q = self._embed(_lit(op["q"]))
        return self.rows(f"""
          WITH qe AS (SELECT list_transform({q}, x -> CAST(x AS FLOAT)) AS q_emb),
          scored AS (SELECT ntype, id, {cos} AS sim FROM nemb CROSS JOIN qe
                     WHERE ntype IN ({types})),
          ranked AS (SELECT ntype, id, sim, ROW_NUMBER() OVER (PARTITION BY ntype
                       ORDER BY sim DESC, id) AS rk FROM scored)
          SELECT ntype, id, sim FROM ranked WHERE rk <= {op['perType']}
          ORDER BY sim DESC, id LIMIT {op['k']}""")

    # --- batch queries ------------------------------------------------

    def batch(self, name):
        """(column -> type, rows) of a registered query's oracle SQL."""
        if name not in self._batch:
            q = self.sql["queries"][name]
            desc = self.con.execute(f"DESCRIBE ({q})").fetchall()
            cols = [d[0] for d in desc]
            rows = self.rows(q)
            perm = sorted(range(len(cols)), key=lambda i: cols[i])
            self._batch[name] = ({cols[i]: desc[i][1] for i in perm},
                                 [[r[i] for i in perm] for r in rows])
        return self._batch[name]

    def check_batch(self, name, out_dir):
        """None when the parquet answer in out_dir matches, else why not."""
        files = glob.glob(f"{out_dir}/*.parquet")
        if not files:
            return "no output"
        src = f"read_parquet({sorted(files)!r})"
        desc = self.con.execute(f"DESCRIBE SELECT * FROM {src}").fetchall()
        types = {d[0]: d[1] for d in desc}
        etypes, erows = self.batch(name)
        if sorted(types) != sorted(etypes):
            return f"columns {sorted(types)} vs {sorted(etypes)}"

        def width(t):
            return "INT64" if t in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT") else t
        drift = [c for c in types if width(types[c]) != width(etypes[c])]
        if drift:
            return f"types differ on {drift}"
        cols = sorted(types)
        got = self.rows(f"SELECT {', '.join(_quote(c) for c in cols)} FROM {src}")
        if len(got) != len(erows):
            return f"{len(got)} rows vs {len(erows)}"
        if not same_rows(got, erows):
            return "rows differ"
        return None


def _quote(c):
    return '"' + c.replace('"', '""') + '"'
