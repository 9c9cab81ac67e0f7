#!/usr/bin/env python3
"""Regression tests for check_oracle's SQL splitter/stripper — the two
functions that gate-critical prefix sharing depends on. Every case here
was once a live defect or ADVICE finding (r12: four-quote runs and
char-literal desyncs in the Scala-side auditor; r13: block comments and
dollar-quoted strings invisible to _strip_literals, and _skip_balanced
not sharing _strip_literals' token classes). Run directly:

    python3 tools/test_check_oracle.py

Exits non-zero on the first failure. Deliberately stdlib-only (no
pytest in the container).
"""
import sys
import os
import shutil
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import check_oracle as co  # noqa: E402

FAILURES = []


def check(name, cond, detail=""):
    if cond:
        print(f"  ok  {name}")
    else:
        print(f"FAIL  {name}  {detail}")
        FAILURES.append(name)


def test_strip_literals():
    # single-quoted literals with '' escapes, -- comments (pre-r13 base)
    out = co._strip_literals("x '' y '''' z")
    check("strip: escaped-quote literals", out.split() == ["x", "y", "z"], out)
    out = co._strip_literals("a -- lemma\nFROM lemma")
    check("strip: line comment", out.count("lemma") == 1, out)
    # r13: block comments, tagged/untagged dollar quotes
    s = ("SELECT a /* lemma ref */ , '--not a comment' , $$ lemma $$ , "
         "$tag$ lemma $tag$ -- lemma\nFROM lemma")
    out = co._strip_literals(s)
    check("strip: block comment + dollar quotes",
          "FROM lemma" in out and out.count("lemma") == 1, out)
    check("strip: comment text gone", "not a comment" not in out)
    # bare $ / $1 parameter markers untouched
    s3 = "price $ 1, a$b, $1 marker"
    check("strip: bare dollar untouched", co._strip_literals(s3) == s3)
    # r14 (r13 ADVICE): a $tag$-shaped substring INSIDE an identifier
    # (a$b$c — '$b$' preceded by an identifier char) is not an opener;
    # the old matcher swallowed from there to EOF, blanking the body
    s4 = "SELECT a$b$c, d FROM t WHERE e = 'x'"
    out = co._strip_literals(s4)
    check("strip: identifier-interior $tag$ not an opener",
          "FROM t WHERE e =" in out and "a$b$c" in out, out)
    # and a REAL opener right after a non-identifier char still quotes
    out = co._strip_literals("SELECT $q$ body $q$ , rest")
    check("strip: real dollar quote still blanks",
          "body" not in out and "rest" in out, out)
    # unterminated block comment swallows to EOF (scanner parity)
    check("strip: unterminated block", co._strip_literals("a /* open") == "a  ")
    # an apostrophe inside a block comment must not open a literal
    out = co._strip_literals("a /* don't */ b 'lit' c")
    check("strip: apostrophe in comment",
          "b" in out and "lit" not in out and "don" not in out, out)


def test_skip_balanced_parity():
    # r13: a ')' (and an apostrophe) inside a block comment must not
    # close the def — _skip_balanced shares _strip_literals' tokens
    sql = ("WITH a AS (SELECT 1 /* don't drop ) */ AS x FROM region), "
           "b AS (SELECT * FROM a) SELECT * FROM b")
    r = co.parse_with(sql)
    check("skip: parse_with over block comment", r is not None)
    if r:
        names = [d[0] for d in r[0]]
        check("skip: defs split correctly", names == ["a", "b"], names)
        check("skip: comment stays in def text",
              "/*" in r[0][0][1] and "FROM region" in r[0][0][1])
    # dollar-quoted body containing ')' and an apostrophe
    sql2 = "WITH a AS (SELECT $$ x ) ' $$ AS s FROM region) SELECT * FROM a"
    r2 = co.parse_with(sql2)
    check("skip: dollar-quoted body", r2 is not None and r2[0][0][0] == "a")
    # block comment between WITH and the first def name (_skip_ws)
    sql3 = "WITH /* note */ a AS (SELECT 1 AS x) SELECT * FROM a"
    r3 = co.parse_with(sql3)
    check("skip: comment after WITH", r3 is not None and r3[0][0][0] == "a")


def test_parse_with_contract():
    # the standing contract pieces prefix sharing relies on: recursive
    # flag, column-list stop, and non-WITH returning None
    r = co.parse_with("SELECT 1")
    check("parse: non-WITH is None", r is None)
    r = co.parse_with(
        "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL SELECT n+1 FROM t "
        "WHERE n < 3) SELECT * FROM t")
    check("parse: recursive flag", r is not None and r[2] is True)
    if r:
        check("parse: column-list def is a stop", r[0][0][2] is True)
    r = co.parse_with(
        "WITH a AS (SELECT 1 AS x), b AS (SELECT x FROM a) "
        "SELECT x FROM b")
    check("parse: plain chain no stops",
          r is not None and [d[2] for d in r[0]] == [False, False])
    if r:
        check("parse: tail preserved", r[1].strip().startswith("SELECT x FROM b"))


def test_run_dirs_disjoint():
    # two runs over the same oracle SQL (say at sf0.01 and at sf0.1)
    # must never share a node file: each run gets its own directory
    cols = ", ".join(f"{i} AS c{i}" for i in range(80))
    head = f"WITH a AS (SELECT {cols}), b AS (SELECT * FROM a) "
    sqls = {"q1": head + "SELECT c1 FROM b", "q2": head + "SELECT c2 FROM b"}
    base, co.SHARE_DIR = co.SHARE_DIR, tempfile.mkdtemp()
    try:
        d1, d2 = co.make_run_dir(), co.make_run_dir()
        p1 = {n["path"] for n in co.plan_shared_nodes(sqls, d1)[0].values()}
        p2 = {n["path"] for n in co.plan_shared_nodes(sqls, d2)[0].values()}
        check("share: both runs plan a node", len(p1) == 1 and len(p2) == 1,
              (p1, p2))
        check("share: runs get disjoint node paths", not (p1 & p2), (p1, p2))
    finally:
        shutil.rmtree(co.SHARE_DIR, ignore_errors=True)
        co.SHARE_DIR = base


def main():
    test_strip_literals()
    test_skip_balanced_parity()
    test_parse_with_contract()
    test_run_dirs_disjoint()
    if FAILURES:
        print(f"== {len(FAILURES)} FAILURES ==")
        return 1
    print("== all check_oracle parser tests pass ==")
    return 0


if __name__ == "__main__":
    sys.exit(main())
