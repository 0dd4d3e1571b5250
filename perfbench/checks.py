"""Output checks, computed outside the program from the generator's
ledger, from DuckDB over the same parquet files, or from properties the
method must have. None of them compares against stored program output.

Each ``check_<workload>`` returns a list of failure messages (empty when
the run's outputs are correct). ``corrupt`` damages one output first, to
show that the checks catch it.
"""
import glob
import hashlib
import html
import json
import os
import re

import duckdb


def _pq(path):
    """DuckDB source over every parquet file under a table directory."""
    return f"read_parquet('{path}/**/*.parquet', hive_partitioning = true, union_by_name = true)"


def _md5(path):
    with open(path, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()


REASON_PREFIX = {
    "duplicate": "duplicate file",
    "md5": "md5 mismatch",
    "size": "filesize mismatch",
    "filetype": "unknown filetype",
    "keywords": "missing required keywords: ",
    "no_payload": "payload file missing",
}


def _reason_class(msg):
    for cls, prefix in REASON_PREFIX.items():
        if msg is not None and msg.startswith(prefix):
            return cls
    return f"unclassified:{msg}"


def check_stagein_ingest(work, result, corrupt=False):
    errs = []
    staged = result["outputs"]["deliveries_staged"]
    with open(os.path.join(work, "ledger.json")) as f:
        ledger = [e for e in json.load(f) if e["delivery"] < staged]
    if corrupt:
        victim = sorted(glob.glob(os.path.join(work, "archive", "raw", "*")))[0]
        with open(victim, "ab") as f:
            f.write(b"\0")
    con = duckdb.connect()
    reg = con.sql(f"SELECT filename, filetype, md5sum, filesize FROM "
                  f"{_pq(os.path.join(work, 'registry'))}").fetchall()
    want_reg = sorted((e["name"], e["filetype"], e["md5"], e["size"])
                      for e in ledger if e["route"] == "archive")
    if sorted(reg) != want_reg:
        errs.append(f"registry: {len(reg)} rows differ from the ledger's "
                    f"{len(want_reg)} archived files")
    loc = con.sql(f"SELECT filename, archive_path FROM "
                  f"{_pq(os.path.join(work, 'registry_location'))}").fetchall()
    if sorted(r[0] for r in loc) != sorted(w[0] for w in want_reg):
        errs.append("location table: filenames differ from the ledger")
    md5_of = {e["name"]: e["md5"] for e in ledger if e["route"] == "archive"}
    for name, path in loc:
        p = path[len("file:"):] if path.startswith("file:") else path
        if not os.path.isfile(p):
            errs.append(f"archived file missing: {name}")
        elif _md5(p) != md5_of.get(name):
            errs.append(f"archived file md5 differs from the generator's: {name}")
    bad = con.sql(f"SELECT orig_filename, rejected_msg FROM "
                  f"{_pq(os.path.join(work, 'bad_files'))}").fetchall()
    got_bad = sorted((n, _reason_class(m)) for n, m in bad)
    want_bad = sorted((e["name"], e["reason"]) for e in ledger
                      if e["route"] == "quarantine")
    if got_bad != want_bad:
        errs.append(f"bad-file table: {len(got_bad)} rows differ from the "
                    f"ledger's {len(want_bad)} rejects by name or reason class")
    for n, m in bad:
        if m and m.startswith(REASON_PREFIX["keywords"]):
            missing = m[len(REASON_PREFIX["keywords"]):].split(",")
            want = [e["missing"] for e in ledger if e["name"] == n]
            if missing != want:
                errs.append(f"{n}: missing keywords {missing} != planted {want}")
    left = glob.glob(os.path.join(work, "stage", "**", "*.dbb"), recursive=True)
    if left:
        errs.append(f"{len(left)} notify files remain in the stage dir")
    routed = result["outputs"]["files_routed"]
    if routed != len(ledger):
        errs.append(f"runBatch reported {routed} files routed, ledger has {len(ledger)}")
    return errs


def _html_table(page, caption):
    m = re.search(r"<caption>" + re.escape(caption) + r"</caption>\n<tr>(.*?)</tr>\n(.*?)</table>",
                  page, re.S)
    if not m:
        return None
    head = re.findall(r"<th>(.*?)</th>", m.group(1))
    rows = [[html.unescape(c) for c in re.findall(r"<td>(.*?)</td>", r)]
            for r in re.findall(r"<tr[^>]*>(.*?)</tr>", m.group(2))]
    return [dict(zip(head, r)) for r in rows]


def check_monitor_report(work, result, corrupt=False):
    errs = []
    cycles = sorted(glob.glob(os.path.join(work, "pages", "cycle_*")))
    if not cycles:
        return ["no monitor cycle wrote pages"]
    if corrupt:
        p = os.path.join(cycles[-1], "dtsmonitor.html")
        s = open(p).read().replace("<td>", "<td>9", 1)
        open(p, "w").write(s)
    names = ["dtsmonitor.html", "dtsmonitor_exp_short.html",
             "dtsmonitor_exp_full.html", "dtsmonitor_sne.html"]
    first = {n: open(os.path.join(cycles[0], n), "rb").read() for n in names}
    for c in cycles[1:]:
        for n in names:
            if open(os.path.join(c, n), "rb").read() != first[n]:
                errs.append(f"{os.path.basename(c)}/{n} differs from cycle_000")
    data = os.path.join(work, "data")
    con = duckdb.connect()
    con.sql("SET TimeZone = 'UTC'")
    want_nites = dict(con.sql(f"""
        SELECT strftime(CASE WHEN hour(ts) < 15 THEN ts - INTERVAL 1 DAY ELSE ts END,
                        '%Y%m%d') AS nite, count(*)
        FROM read_parquet('{data}/events.parquet') GROUP BY 1""").fetchall())
    summary = _html_table(first["dtsmonitor.html"].decode(), "Per-nite summary")
    got_nites = {r["nite"]: int(r["n_events"]) for r in summary or []}
    if got_nites != want_nites:
        errs.append(f"per-nite event counts differ from DuckDB "
                    f"({len(got_nites)} vs {len(want_nites)} nites)")
    want_states = dict(con.sql(f"""
        WITH rcv AS (SELECT DISTINCT l_orderkey FROM read_parquet('{data}/lineitem.parquet')
                     WHERE l_returnflag = 'R')
        SELECT CASE WHEN o.o_orderstatus = 'F' AND r.l_orderkey IS NOT NULL THEN 'ok'
                    WHEN o.o_orderstatus = 'F' THEN 'missing'
                    WHEN r.l_orderkey IS NOT NULL THEN 'extra'
                    ELSE 'not delivered' END AS s, count(*)
        FROM read_parquet('{data}/orders.parquet') o
        LEFT JOIN rcv r ON o.o_orderkey = r.l_orderkey GROUP BY 1""").fetchall())
    n_orders = con.sql(f"SELECT count(*) FROM read_parquet('{data}/orders.parquet')").fetchone()[0]
    states = _html_table(first["dtsmonitor_exp_full.html"].decode(), "States")
    got_states = {r["expstate"]: int(r["n_orders"]) for r in states or []}
    if got_states != want_states:
        errs.append(f"per-state exposure counts {got_states} != DuckDB {want_states}")
    if sum(got_states.values()) != n_orders:
        errs.append(f"per-state counts sum to {sum(got_states.values())}, "
                    f"orders has {n_orders} rows")
    return errs


def check_stream_admit(work, result, corrupt=False):
    errs = []
    o = result["outputs"]
    with open(os.path.join(work, "planted.json")) as f:
        planted = json.load(f)
    delivered = o["files_delivered"] * planted["batch_docs"]
    if o["docs"] != delivered:
        errs.append(f"the run counted {o['docs']} docs given a verdict, "
                    f"{delivered} were delivered")
    expected = {int(k): v for k, v in planted["expected"].items()
                if int(k) < 1_000_000 + delivered}
    con = duckdb.connect()
    vdir = os.path.join(work, "stream_verdicts")
    if corrupt:
        con.sql(f"COPY (SELECT * FROM read_parquet('{vdir}/*.parquet') LIMIT "
                f"(SELECT count(*) - 1 FROM read_parquet('{vdir}/*.parquet'))) "
                f"TO '{work}/verdicts_cut.parquet'")
        for f in glob.glob(os.path.join(vdir, "*.parquet")):
            os.remove(f)
        os.rename(f"{work}/verdicts_cut.parquet", os.path.join(vdir, "cut.parquet"))
    got = con.sql(f"SELECT doc_id, verdict FROM read_parquet('{vdir}/*.parquet')").fetchall()
    ids = [d for d, _ in got]
    if len(ids) != o["docs"] or len(ids) != len(set(ids)) or set(ids) != set(expected):
        errs.append(f"{len(ids)} verdicts ({len(set(ids))} docs) for "
                    f"{len(expected)} delivered docs")
    verdict = dict(got)
    for kind in ("dup", "repetitive", "admit"):
        wrong = [d for d, k in expected.items() if k == kind and verdict.get(d) != kind]
        if wrong:
            errs.append(f"{len(wrong)} planted '{kind}' docs got another verdict "
                        f"(e.g. {wrong[0]}: {verdict.get(wrong[0])})")
    metrics = con.sql(f"SELECT CAST(sum(n_docs) AS BIGINT) FROM "
                      f"{_pq(os.path.join(work, 'stream_idx', 'ingest_metrics'))}").fetchone()[0]
    if metrics != len(expected):
        errs.append(f"ingest_metrics sums to {metrics}, {len(expected)} docs delivered")
    texts = dict(con.sql(f"SELECT doc_id, text FROM read_parquet('{work}/stream_src/*.parquet')").fetchall())
    counts, total = {}, 0
    for d, v in verdict.items():
        if v == "admit":
            for t in texts[d].split(" "):
                if t:
                    counts[t] = counts.get(t, 0) + 1
                    total += 1
    for s in o["sketch"]:
        if s["est"] < counts.get(s["tok"], 0):
            errs.append(f"sketch estimate {s['est']} for {s['tok']!r} below "
                        f"the true count {counts[s['tok']]}")
        if s["n_tok"] != total:
            errs.append(f"sketch n_tok {s['n_tok']} != {total} admitted tokens")
            break
    if not o["sketch"]:
        errs.append("no sketch estimates returned")
    return errs


CHECKS = {
    "stagein_ingest": check_stagein_ingest,
    "monitor_report": check_monitor_report,
    "stream_admit": check_stream_admit,
}
