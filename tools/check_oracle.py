#!/usr/bin/env python3
"""Local mimic of the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check_oracle.py <sfDir> <verifyOutDir> [nameRegex]

Reads each <outDir>/<name> parquet (written by graft.Verify), runs the
matching oracle SQL from <outDir>/oracle_sql.json in DuckDB with views
over <sfDir>/*.parquet, sorts columns by name and rows by all columns,
and compares values. Exit 1 on any mismatch.

Runs oracles on a process pool (GATE_PAR env, default 8) and prints a
per-oracle timing table (slowest first) so the gate's own cost can be
profiled and budgeted.

Oracle-cost sharing (GATE_SHARE=1, default on; set 0 to disable):
the oracle SQLs are GENERATED, so family members share byte-identical
text — tr01/tr04 are the same statement verbatim, and tr02 repeats
tr01's entire CTE chain with only a different final SELECT. Two
dedup layers exploit that without touching oracle_sql.json (which
must stay single-statement standalone for the driver's own gate):
  1. identical full SQL → executed ONCE, compared against each
     member's Spark output;
  2. identical CTE-definition PREFIXES across >=2 queries → the
     prefix is materialized ONCE into a shared read-only .duckdb
     file (CREATE TABLE per CTE, executed in definition order so
     names resolve naturally), and each member's SQL is rewritten to
     read the referenced prefix CTEs from that file. A CTE prefix is
     self-contained (non-recursive CTEs only reference earlier ones),
     so byte-equal prefixes are semantically equal; DuckDB native
     storage preserves types exactly (no parquet round-trip, which
     would corrupt HUGEINT). WITH RECURSIVE queries participate too:
     the prefix simply stops at the first self-referencing (or
     column-list) def, which stays in the member's suffix verbatim —
     this is what lets ls05's morphy prefix share while its LCS
     recursion stays local. If a prefix build fails, members fall back
     to their original standalone SQL — sharing is a pure optimization.
This cut the round-9 sf1 tr-family oracle cost (~6,600 s of its
four quadratic all-pairs chains) to one chain plus cheap tails.
"""
import sys, json, glob, os, re, time, hashlib, shutil, tempfile
from concurrent.futures import ProcessPoolExecutor, wait, FIRST_COMPLETED

TABLES = ["region","nation","customer","supplier","part","orders",
          "lineitem","events","documents","embeddings"]

SHARE_DIR = os.environ.get("GATE_SHARE_DIR", "/tmp/graft_oracle_shared")

def make_run_dir():
    """A fresh directory under SHARE_DIR for one run's node files. Node
    ids hash SQL text only, so two concurrent runs at different scales
    would otherwise read each other's materialized prefixes; main()
    removes the directory when the run exits."""
    os.makedirs(SHARE_DIR, exist_ok=True)
    return tempfile.mkdtemp(prefix="run_", dir=SHARE_DIR)

def canon(df):
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df

def compare(name, spark_df, duck_df):
    """Driver-parity comparator: the driver sorts columns by name and
    hashes EXACT pandas values, so an int64 `12345` vs a float64
    `12345.0` is a hash mismatch even though the values are equal
    (round-7 a37/c25/c29 shipped exactly because the old comparator
    coerced both sides to float and passed on isclose). Rules here:
    int-vs-float dtype family mismatch = FAIL; float columns must be
    bit-exact (NaN==NaN allowed); everything else compares as strings.
    """
    import pandas as pd
    import numpy as np
    a, b = canon(spark_df), canon(duck_df)
    if list(a.columns) != list(b.columns):
        return f"SCHEMA cols {list(a.columns)} vs {list(b.columns)}"
    if len(a) != len(b):
        return f"ROWS {len(a)} vs {len(b)}"
    for c in a.columns:
        fa = np.issubdtype(a[c].dtype, np.floating)
        fb = np.issubdtype(b[c].dtype, np.floating)
        if fa != fb:
            return (f"DTYPE col={c}: spark={a[c].dtype} vs oracle={b[c].dtype}"
                    f" — driver hashes these differently (e.g. 12345 vs 12345.0);"
                    f" CAST the oracle (or the Spark side) so dtypes agree")
        if fa and fb:
            av = a[c].values.astype(float)
            bv = b[c].values.astype(float)
            if not np.array_equal(av, bv, equal_nan=True):
                bad = ~((av == bv) | (np.isnan(av) & np.isnan(bv)))
                i = int(np.argmax(bad))
                return (f"VALUE col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
                        f" (driver requires bit-exact floats)")
        else:
            av = a[c].astype(str).values
            bv = b[c].astype(str).values
            if not np.array_equal(av, bv):
                i = int(np.argmax(av != bv))
                return f"VALUE col={c} row={i}: {av[i]!r} vs {bv[i]!r}"
    return None

# ---------------------------------------------------------------- SQL
# Minimal WITH-clause splitter for OUR generated oracle SQL. Handles
# single-quoted strings ('' escape), double-quoted identifiers, line
# comments, and nested parens; bails (returns None) on anything it
# isn't sure about — sharing is opportunistic, never required.

_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")

def _skip_ws(sql, i):
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch in " \t\r\n":
            i += 1
        elif sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j + 1
        elif sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
        else:
            break
    return i

def _skip_balanced(sql, i):
    """i points at '('; return index just past the matching ')'."""
    depth = 0
    n = len(sql)
    while i < n:
        ch = sql[i]
        if ch == "'":
            i += 1
            while i < n:
                if sql[i] == "'":
                    if i + 1 < n and sql[i + 1] == "'":
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            continue
        if ch == '"':
            i += 1
            while i < n and sql[i] != '"':
                i += 1
            i += 1
            continue
        if sql.startswith("--", i):
            j = sql.find("\n", i)
            i = n if j < 0 else j + 1
            continue
        # same token classes as _strip_literals, so the two passes can
        # never disagree about what is code: a ')' or quote inside a
        # block comment or dollar-quoted body must not close the def
        if sql.startswith("/*", i):
            j = sql.find("*/", i + 2)
            i = n if j < 0 else j + 2
            continue
        if ch == "$":
            m = _dollar_open(sql, i)
            if m:
                close = m.group(0)
                j = sql.find(close, m.end())
                i = n if j < 0 else j + len(close)
                continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
        i += 1
    return -1

# Dollar-quote opener: $$ or $tag$ (tag = identifier, no leading digit
# — "$1" parameter markers and arithmetic "$" never match).
_DOLLAR = re.compile(r"\$([A-Za-z_][A-Za-z0-9_]*)?\$")


def _dollar_open(s, i):
    """Match a dollar-quote OPENER at s[i], or None. Beyond the tag
    shape, the opener must not be PRECEDED by an identifier character
    (r13 ADVICE): in an identifier like a$b$c the substring '$b$' is
    identifier interior, not an opener — matching it would swallow to
    the closing tag (usually EOF), blanking the rest of the body and
    silently disabling prefix sharing for that SQL."""
    if i > 0 and (s[i - 1].isalnum() or s[i - 1] in "_$"):
        return None
    return _DOLLAR.match(s, i)


def _strip_literals(body):
    """Single-quoted literals (with '' escapes), -- line comments,
    /* */ block comments, and $$...$$ / $tag$...$tag$ dollar-quoted
    strings blanked in one left-to-right pass, mirroring
    _skip_balanced's tokenization, so no construct can mis-pair
    against another (an apostrophe inside a comment, a '--' inside a
    literal, a CTE name inside a block comment — the last silently
    demoted a def to self-referential, truncating prefix sharing)."""
    out = []
    i = 0
    n = len(body)
    while i < n:
        ch = body[i]
        if ch == "'":
            i += 1
            while i < n:
                if body[i] == "'":
                    if i + 1 < n and body[i + 1] == "'":
                        i += 2
                        continue
                    i += 1
                    break
                i += 1
            out.append(" ")
        elif body.startswith("--", i):
            j = body.find("\n", i)
            i = n if j < 0 else j
            out.append(" ")
        elif body.startswith("/*", i):
            # DuckDB block comments do not nest; an unterminated block
            # swallows the rest (matching the scanner's EOF behavior)
            j = body.find("*/", i + 2)
            i = n if j < 0 else j + 2
            out.append(" ")
        elif ch == "$":
            m = _dollar_open(body, i)
            if m:
                close = m.group(0)
                j = body.find(close, m.end())
                i = n if j < 0 else j + len(close)
                out.append(" ")
            else:
                out.append(ch)
                i += 1
        else:
            out.append(ch)
            i += 1
    return "".join(out)

def parse_with(sql):
    """-> (defs, tail, recursive) where defs = [(name, exact_def_text,
    stop)], tail is the final statement text, and recursive says the
    query opened with WITH RECURSIVE (preserved in rewrites). stop=True
    marks a def a shared PREFIX must not reach: a self-referencing
    (recursive) def can't be executed as a standalone CREATE TABLE, and
    a column-list def ("lcs(g, j, ...) AS") would lose its column names
    through `CREATE TABLE name AS body`. Defs at/past the first stop
    still parse — member rewrites re-emit them verbatim in the suffix.
    Returns None on anything the splitter isn't sure about."""
    i = _skip_ws(sql, 0)
    if sql[i:i + 4].upper() != "WITH":
        return None
    i = _skip_ws(sql, i + 4)
    recursive = False
    if sql[i:i + 9].upper() == "RECURSIVE":
        recursive = True
        i = _skip_ws(sql, i + 9)
    defs = []
    while True:
        start = i
        m = _IDENT.match(sql, i)
        if not m:
            return None
        i = _skip_ws(sql, m.end())
        collist = False
        if i < len(sql) and sql[i] == "(":  # column-list CTE
            end = _skip_balanced(sql, i)
            if end < 0:
                return None
            collist = True
            i = _skip_ws(sql, end)
        if sql[i:i + 2].upper() != "AS":
            return None
        i = _skip_ws(sql, i + 2)
        if sql[i:i + 12].upper() == "MATERIALIZED":
            i = _skip_ws(sql, i + 12)
        if i >= len(sql) or sql[i] != "(":
            return None
        body_at = i
        end = _skip_balanced(sql, i)
        if end < 0:
            return None
        name = m.group(0)
        # Self-reference probe over the body with string literals and
        # line comments stripped, case-insensitively: a lexicon word in
        # a '...' literal equal to a CTE name must not mark the def as
        # recursive (silently truncating prefix sharing), and a
        # different-case self-reference must not be missed (it would
        # produce a failing standalone CREATE TABLE). One left-to-right
        # scan (same conventions as _skip_balanced) — sequential regex
        # substitutions mis-pair when a '--' comment contains an
        # apostrophe or a literal contains '--'.
        selfref = re.search(r"\b" + re.escape(name) + r"\b",
                            _strip_literals(sql[body_at:end]),
                            re.IGNORECASE) is not None
        defs.append((name, sql[start:end], collist or selfref))
        i = _skip_ws(sql, end)
        if i < len(sql) and sql[i] == ",":
            i = _skip_ws(sql, i + 1)
            continue
        return (defs, sql[i:], recursive)

def _def_body(def_text):
    """'name AS [MATERIALIZED] ( body )' -> 'body'."""
    a = def_text.index("(")
    b = def_text.rindex(")")
    return def_text[a + 1:b]

def _refs(names, text):
    return [nm for nm in names
            if re.search(r"\b" + re.escape(nm) + r"\b", text)]

def plan_shared_nodes(sqls, node_dir):
    """sqls: {qname: sql}; node files go under node_dir. Returns
    (nodes, member_rewrites) where
    nodes = {node_id: {path, defs(list of (name, def_text)),
                       persist(set of CTE names), members(list)}}
    and member_rewrites = {qname: (node_id, rewritten_sql)}.
    Only queries whose deepest >=2-way shared CTE prefix is at least
    MIN_PREFIX_CHARS long participate."""
    MIN_PREFIX_CHARS = 400
    parsed = {}
    for q, sql in sqls.items():
        p = parse_with(sql)
        if p and p[0]:
            parsed[q] = p
    # depth -> prefix-text-hash -> [qname]; pick each query's deepest
    # prefix shared with at least one OTHER query. A prefix stops at
    # the first recursive/column-list def (stop flag): everything from
    # there on belongs to the member's suffix.
    # SOLO queries are decided FIRST and excluded from group membership:
    # a monster chain must not be claimed by a shallow multi-member
    # prefix (ls05's 19-def morphy share once beat its 677-def solo node
    # and sent the whole power/ROUGE chain back in-pool, where it OOMs).
    # Two profile-guided triggers, both env-tunable:
    #   - GATE_SOLO_DEFS: leading-def count (the statement-accumulation
    #     class — hundreds of materialized CTEs exceed the worker cap);
    #   - GATE_SOLO_NAMES: known corpus-scale chains whose IN-POOL tail
    #     sets the gate wall at 1/GATE_PAR of the box (tr03/tr06 each
    #     re-propagate a ~113M-edge rank chain; the build lane runs them
    #     at half the box like the tr01 node they otherwise ride).
    solo_min = int(os.environ.get("GATE_SOLO_DEFS", "200"))
    solo_re = os.environ.get("GATE_SOLO_NAMES", r"^(tr03_|tr06_)")
    solo = set()
    for q, (qdefs, tail, _) in parsed.items():
        lead = 0
        for _, _, stop in qdefs:
            if stop:
                break
            lead += 1
        named = bool(solo_re) and re.search(solo_re, q) is not None
        if (solo_min and lead >= solo_min) or named:
            if lead > 0 and _refs([nm for nm, _, _ in qdefs[:lead]],
                                  "".join(d for _, d, _ in qdefs[lead:]) + tail):
                solo.add(q)
            else:
                # A solo-matched query whose oracle shape no longer
                # grants a node (first def is a stop, or the suffix
                # references no prefix name) silently falls back to
                # pool execution — the exact OOM/wall class the solo
                # lane exists to avoid. Say so in the gate output
                # instead of letting it reappear as an in-pool OOM.
                print(f"SOLO  {q}: requested (lead={lead}) but NOT "
                      f"granted a node — runs in-pool", flush=True)
    bykey = {}
    for q, (defs, _, _) in parsed.items():
        if q in solo:
            continue
        acc = ""
        for k, (_, dtext, stop) in enumerate(defs):
            if stop:
                break
            acc += dtext + "\n"
            if len(acc) >= MIN_PREFIX_CHARS:
                bykey.setdefault((k + 1, hashlib.sha256(acc.encode()).hexdigest()),
                                 []).append(q)
    deepest = {}
    for (k, h), qs in bykey.items():
        if len(qs) < 2:
            continue
        for q in qs:
            if q not in deepest or k > deepest[q][0]:
                deepest[q] = (k, h)
    groups = {}
    for q, node in deepest.items():
        groups.setdefault(node, []).append(q)
    nodes, rewrites = {}, {}

    def rewrite_sql(q, needed, sdefs, tail):
        head = ", ".join(f"{nm} AS (SELECT * FROM shr.{nm})"
                         for nm in needed)
        rest = ", ".join(d for _, d, _ in sdefs)
        body = head + (", " + rest if rest else "")
        kw = "WITH RECURSIVE" if parsed[q][2] else "WITH"
        return f"{kw} {body}\n{tail}"

    for (k, h), members in sorted(groups.items()):
        if len(members) < 2:
            continue  # everyone else in this prefix chose a deeper node
        node_id = h[:16]
        defs = parsed[members[0]][0][:k]
        prefix_names = [nm for nm, _, _ in defs]
        persist = set()
        ok_members = []
        for q in members:
            qdefs, tail, _ = parsed[q]
            suffix = "".join(d for _, d, _ in qdefs[k:]) + tail
            needed = _refs(prefix_names, suffix)
            if not needed:
                continue  # suffix never reads the prefix — leave alone
            persist.update(needed)
            ok_members.append((q, needed, qdefs[k:], tail))
        if len(ok_members) < 2:
            continue
        path = f"{node_dir}/node_{node_id}.duckdb"
        nodes[node_id] = {"path": path, "defs": defs,
                          "persist": sorted(persist),
                          "members": [q for q, _, _, _ in ok_members]}
        for q, needed, sdefs, tail in ok_members:
            rewrites[q] = (node_id, rewrite_sql(q, needed, sdefs, tail))
    # A query whose deepest shared prefix was claimed by a DEEPER node
    # (e.g. tr06 shares v0..pw with the tr01/02/04 chain, but those
    # three share all the way through r5) still rides that node: the
    # deep build evaluates the shallow CTEs on the way, so persisting
    # them for the shallow member is storage, not extra work. At sf1
    # this saved tr06 re-deriving the 113M-row pair table standalone.
    for (k, h), members in sorted(groups.items()):
        if len(members) != 1 or members[0] in rewrites:
            continue
        q = members[0]
        qdefs, tail, _ = parsed[q]
        pdefs = qdefs[:k]
        for node_id, node in nodes.items():
            nd = node["defs"]
            if len(nd) < k or any(nd[i][1] != pdefs[i][1] for i in range(k)):
                continue
            suffix = "".join(d for _, d, _ in qdefs[k:]) + tail
            needed = _refs([nm for nm, _, _ in pdefs], suffix)
            if not needed:
                break
            node["persist"] = sorted(set(node["persist"]) | set(needed))
            node["members"].append(q)
            rewrites[q] = (node_id, rewrite_sql(q, needed, qdefs[k:], tail))
            break
    # Single-member nodes for the SOLO set. A statement with hundreds of
    # materialized corpus-wide CTEs accumulates result/operator state
    # until STATEMENT end, so it can exceed the per-worker memory cap
    # even though every individual CTE is small: ls05 at the sf1 replica
    # needs >10 GB one-shot (684 defs; the per-def bisect OOMs around
    # def 348) yet builds in ~1 GB when executed CTE-by-CTE. Routing the
    # chain through a node runs ONE CREATE TABLE per CTE — state is
    # freed per statement — under the build lane's budget (this retires
    # the isolated big-memory lane, round-10 verdict task 3), and the
    # name-listed wall-setters get the build lane's thread slice instead
    # of a pool worker's.
    for q in sorted(solo):
        qdefs, tail, rec = parsed[q]
        lead = 0
        for _, _, stop in qdefs:
            if stop:
                break
            lead += 1
        defs = qdefs[:lead]
        suffix = "".join(d for _, d, _ in qdefs[lead:]) + tail
        needed = _refs([nm for nm, _, _ in defs], suffix)
        node_id = hashlib.sha256(
            ("".join(d for _, d, _ in defs) + q).encode()).hexdigest()[:16]
        nodes[node_id] = {"path": f"{node_dir}/node_{node_id}.duckdb",
                          "defs": defs, "persist": sorted(set(needed)),
                          "members": [q]}
        rewrites[q] = (node_id, rewrite_sql(q, needed, qdefs[lead:], tail))
    return nodes, rewrites

def _connect(db=None, threads=None, mem=None):
    import duckdb
    con = duckdb.connect(db) if db else duckdb.connect()
    if threads is None:
        # bound per-worker DuckDB threads so GATE_PAR workers don't
        # oversubscribe the box (DuckDB defaults to all cores/process)
        threads = max(1, os.cpu_count() // int(os.environ.get("GATE_PAR", "8")))
    con.sql(f"SET threads={threads}")
    # Bound per-worker memory and spill to disk past it: at the sf1
    # stress scale a MATERIALIZED quadratic pair CTE ballooned one
    # worker to 41 GB and the kernel OOM-killed the pool (round-9).
    con.sql(f"SET memory_limit='{mem or os.environ.get('GATE_MEM', '10GB')}'")
    # PER-WORKER spill dir: DuckDB names its temp files
    # duckdb_temp_storage-N.tmp with a process-LOCAL index, so two
    # spilling workers sharing one dir collide — one worker's cleanup
    # deletes the other's live file and the victim hard-aborts
    # (IOException), poisoning the pool. That artifact was the round-9
    # sf1 full-registry gate's only FAIL (d05 passes in isolation).
    spill = f"/tmp/duck_spill/{os.getpid()}"
    os.makedirs(spill, exist_ok=True)
    con.sql(f"SET temp_directory='{spill}'")
    return con

def _views(con, sf_dir):
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        if os.path.isdir(p):
            # Spark-written table (stress replicas): a DIRECTORY of part
            # files — glob them. Driver-generated sf dirs stay the
            # single-file form below.
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}/*.parquet'")
        elif os.path.exists(p):
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

def build_node(node, sf_dir):
    """Materialize a shared CTE prefix into node['path'] (fresh file).
    Intermediates are TEMP tables; only CTEs some member's suffix reads
    are persisted. Runs with more threads than a pool worker — it is
    the serial pole the members wait on."""
    t0 = time.time()
    path = node["path"]
    for suffix in ("", ".wal"):
        if os.path.exists(path + suffix):
            os.remove(path + suffix)
    # a node build is the serial pole its members wait on (at sf1 the
    # tr-family chain is ~28 min even at full threads), so it gets a
    # bigger slice than a pool worker
    con = _connect(db=path,
                   threads=int(os.environ.get("GATE_BUILD_THREADS",
                                              str(max(2, os.cpu_count() // 2)))),
                   mem=os.environ.get("GATE_BUILD_MEM", "20GB"))
    _views(con, sf_dir)
    persist = set(node["persist"])
    for nm, dtext, _ in node["defs"]:
        kind = "TABLE" if nm in persist else "TEMP TABLE"
        con.sql(f"CREATE {kind} {nm} AS {_def_body(dtext)}")
    con.close()
    return (node["path"], time.time() - t0)

def run_one(task):
    """Worker: (sql_or_None, sf_dir, attach_or_None, members) ->
    [(name, status, detail, secs)] — one result per member, the oracle
    executed once. members = [(name, verify_dir_or_None)].

    sf_dir rides in the task tuple (not a module global) so workers are
    correct under spawn/forkserver start methods, not just fork.
    """
    sql, sf_dir, attach, members = task
    import pandas as pd
    out = []
    t0 = time.time()

    def spark_out(d):
        if d is None:
            return None
        files = sorted(glob.glob(f"{d}/*.parquet"))
        return (pd.concat([pd.read_parquet(f) for f in files], ignore_index=True)
                if files else pd.DataFrame())

    if sql is None:
        for name, d in members:
            df = spark_out(d)
            out.append((name, "FAIL", "no verify output written", 0.0) if df is None
                       else (name, "SKIP", f"rows-only: {len(df)} rows", time.time() - t0))
        return out
    con = _connect()
    if attach:
        con.sql(f"ATTACH '{attach}' AS shr (READ_ONLY)")
    _views(con, sf_dir)
    try:
        duck_df = con.sql(sql).df()
    except Exception as e:
        return [(name, "FAIL", f"oracle SQL error: {e}", time.time() - t0)
                for name, _ in members]
    oracle_secs = time.time() - t0
    first = True
    for name, d in members:
        t1 = time.time()
        df = spark_out(d)
        if df is None:
            out.append((name, "FAIL", "no verify output written", 0.0))
            continue
        err = compare(name, df, duck_df)
        # oracle cost is attributed to the first member; co-members
        # carry only their own compare time plus a shared-oracle note
        secs = (oracle_secs if first else 0.0) + (time.time() - t1)
        note = "" if first else " (shared oracle)"
        first = False
        out.append((name, "FAIL", err, secs) if err
                   else (name, "PASS", f"{len(df)} rows{note}", secs))
    return out

def main():
    run_dir = make_run_dir() if os.environ.get("GATE_SHARE", "1") != "0" else None
    try:
        run(run_dir)
    finally:
        if run_dir:
            shutil.rmtree(run_dir, ignore_errors=True)

def run(run_dir):
    """The check itself; shared nodes live in run_dir (None: no sharing)."""
    sf_dir, out_dir = sys.argv[1], sys.argv[2]
    name_re = re.compile(sys.argv[3]) if len(sys.argv) > 3 else None
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    dirs = {os.path.basename(d.rstrip("/")): d
            for d in sorted(glob.glob(f"{out_dir}/*/"))}
    names = sorted(set(dirs) | set(oracles))
    if name_re:
        names = [n for n in names if name_re.search(n)]
    sqls = {n: oracles[n] for n in names if oracles.get(n) is not None}
    nodes, rewrites = plan_shared_nodes(sqls, run_dir) if run_dir else ({}, {})
    if nodes:
        for nid, node in nodes.items():
            print(f"SHARE node {nid}: {len(node['defs'])} CTEs -> "
                  f"{node['persist']} for {node['members']}", flush=True)
    # Layer 1: group by FINAL SQL text (post-rewrite) — byte-identical
    # oracles (tr01/tr04) execute once.
    plain, bynode = {}, {}
    for n in names:
        sql = oracles.get(n)
        member = (n, dirs.get(n))
        if n in rewrites:
            nid, rsql = rewrites[n]
            bynode.setdefault(nid, {}).setdefault(rsql, []).append(member)
        else:
            plain.setdefault(sql, []).append(member)
    plain_tasks = [(sql, sf_dir, None, members) for sql, members in plain.items()]
    # Profile-guided LPT scheduling: the pool drains longest-first, so
    # a straggler that starts late sets the wall. Known-expensive
    # oracles (measured at sf0.1 and the sf1 replica, rounds 8-9) rank
    # first; node builds inherit the best rank of their members (the
    # tr-family chain is the sf1 critical path and must start at t=0).
    # A ProcessPoolExecutor queue is FIFO, so instead of submitting
    # everything up front we keep a bounded in-flight window fed from a
    # priority heap — a node's member tasks then jump ahead of the
    # light tail instead of queueing behind it.
    HEAVY = ["tr0", "mm12", "d03_", "d05_", "d13_", "d17_", "d22_",
             "d11_", "ls05", "mm10", "d25_", "d29_", "ls09", "a29_",
             "ls04", "c14_", "t22_", "t25_", "t23_", "c36_", "sm04",
             "d24_", "d23_", "rg04", "ls02", "ls03"]
    def rank_names(names_):
        r = len(HEAVY)
        for n in names_:
            for i, p in enumerate(HEAVY):
                if n.startswith(p):
                    r = min(r, i)
                    break
        return r
    par = int(os.environ.get("GATE_PAR", "8"))
    t0 = time.time()
    # Collect per-future and survive worker crashes: a DuckDB hard
    # abort (observed at sf1 under out-of-core pressure) kills its
    # worker and poisons every pending future in the pool. Unfinished
    # tasks fall through to the isolated retry lane below.
    results = []
    retry = []

    def original_tasks(nid, skip=()):
        """Fallback: members of a failed node run standalone SQL."""
        return [(oracles[n], sf_dir, None, [(n, dirs.get(n))])
                for ms in bynode.get(nid, {}).values()
                for n, _ in ms if n not in skip]

    import heapq, itertools
    seq = itertools.count()
    heap = []

    def push_task(t):
        heapq.heappush(heap, (rank_names([n for n, _ in t[3]]), next(seq),
                              ("task", t)))

    def push_node(nid):
        heapq.heappush(heap, (rank_names(nodes[nid]["members"]), next(seq),
                              ("node", nid)))

    for nid in nodes:
        push_node(nid)
    for t in plain_tasks:
        push_task(t)
    try:
        with ProcessPoolExecutor(max_workers=par) as ex:
            futs = {}
            pending = set()

            def top_up():
                while heap and len(pending) < par * 2:
                    _, _, (kind, obj) = heapq.heappop(heap)
                    f = (ex.submit(build_node, nodes[obj], sf_dir)
                         if kind == "node" else ex.submit(run_one, obj))
                    futs[f] = (kind, obj)
                    pending.add(f)

            top_up()
            while pending or heap:
                done, pending = wait(pending, return_when=FIRST_COMPLETED)
                for fut in done:
                    kind, obj = futs[fut]
                    if kind == "node":
                        nid = obj
                        try:
                            path, secs = fut.result()
                            print(f"SHARE node {nid} built [{secs:.1f}s]", flush=True)
                            new = [(rsql, sf_dir, nodes[nid]["path"], members)
                                   for rsql, members in bynode[nid].items()]
                        except Exception as e:
                            print(f"SHARE node {nid} FAILED ({e}); members run "
                                  f"standalone", flush=True)
                            new = original_tasks(nid)
                        for t in new:
                            push_task(t)
                    else:
                        # On a poisoned pool every unfinished future raises
                        # BrokenProcessPool from result() immediately; those
                        # tasks go to the ISOLATED retry lane (one task per
                        # throwaway pool, so the actual crasher can only
                        # fail itself). No cancel(): it races the broken-
                        # pool machinery's own exception-setting.
                        try:
                            for r in fut.result():
                                # a DuckDB out-of-memory under the pool's
                                # per-worker cap is a harness budget, not
                                # a verdict — route it to the isolated
                                # big-memory lane like a crash (r9's ls05
                                # needed the 60GB lane at sf1)
                                if r[1] == "FAIL" and re.search(
                                        r"out of memory|could not allocate|"
                                        r"failed to allocate", str(r[2]), re.I):
                                    print(f"OOM   {r[0]} [{r[3]:.1f}s] -> "
                                          f"isolated retry", flush=True)
                                    retry.append((obj[0], obj[1], obj[2],
                                                  [(r[0], dirs.get(r[0]))]))
                                    continue
                                results.append(r)
                                print(f"{r[1]:5} {r[0]} [{r[3]:.1f}s]", flush=True)
                        except Exception:
                            retry.append(obj)
                top_up()
    except Exception:
        # pool machinery itself died: everything not yet collected goes
        # to the retry lane
        got = {r[0] for r in results}
        for t in plain_tasks:
            left = [(n, d) for n, d in t[3] if n not in got]
            if left:
                retry.append((t[0], t[1], t[2], left))
        for nid in bynode:
            retry.extend(original_tasks(nid, skip=got))
    seen = set()
    retry_unique = []
    for t in retry:
        key = tuple(n for n, _ in t[3])
        if key not in seen:
            seen.add(key)
            retry_unique.append(t)
    if retry_unique:
        # sequential lane: grant each isolated task the whole box
        os.environ["GATE_PAR"] = "1"
        os.environ["GATE_MEM"] = os.environ.get("GATE_RETRY_MEM", "60GB")
    for t in retry_unique:
        try:
            with ProcessPoolExecutor(max_workers=1) as ex1:
                rs = ex1.submit(run_one, t).result()
            for r in rs:
                results.append(r)
                print(f"{r[1]:5} {r[0]} [{r[3]:.1f}s] (isolated retry)", flush=True)
        except Exception as e:
            for n, _ in t[3]:
                results.append((n, "FAIL", f"worker crashed: {e}", 0.0))
                print(f"CRASH {n}: {e}", flush=True)
    n_pass = n_fail = n_skip = 0
    for name, status, detail, secs in results:
        if status == "PASS":
            n_pass += 1
            print(f"PASS  {name} ({detail}) [{secs:.1f}s]")
        elif status == "SKIP":
            n_skip += 1
            print(f"SKIP  {name} ({detail})")
        else:
            n_fail += 1
            print(f"FAIL  {name}: {detail}")
    slow = sorted(results, key=lambda r: -r[3])[:15]
    print("== slowest oracles ==")
    for name, _, _, secs in slow:
        print(f"  {secs:7.1f}s  {name}")
    print(f"== {n_pass} pass, {n_fail} fail, {n_skip} rows-only "
          f"(wall {time.time()-t0:.1f}s, cpu-sum {sum(r[3] for r in results):.1f}s, par={par}) ==")
    sys.exit(1 if n_fail else 0)

if __name__ == "__main__":
    main()
