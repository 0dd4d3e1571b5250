"""Seeded input generator for the benchmark's workloads.

Everything a run feeds the program is made here from ``--seed`` alone;
the same seed gives byte-identical inputs. Alongside the inputs the
generator writes what the output checks compare against: the stage-in
ledger (each notify file's expected route and reason class, each
payload's md5) and the planted replays of the stream.

FITS headers are written card by card here, not by the program's own
renderer, so a render bug cannot hide a parse bug.
"""
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# R-flagged extension rows of the FITS keyword contract (reference
# etc/decam_src_keywords.txt): what every image extension must carry.
REQUIRED_EXTENSION = [
    "AMPSECA", "AMPSECB", "BIASSECA", "BIASSECB", "CD1_1", "CD1_2", "CD2_1",
    "CD2_2", "CRPIX1", "CRPIX2", "CRVAL1", "CRVAL2", "CTYPE1", "CTYPE2",
    "DATASEC", "DETSEC", "EQUINOX", "GAINA", "GAINB", "RDNOISEA", "RDNOISEB",
    "SATURATA", "SATURATB", "TRIMSECA", "TRIMSECB"]

STAGEIN_DELIVERIES = 40
STAGEIN_GOOD_RAW = 14
STAGEIN_GOOD_MANIFESTS = 4
FITS_AXIS = 128          # NAXIS1 = NAXIS2, 16-bit pixels
FITS_EXTENSIONS = 2

# The monitor's tables follow the sf0.1 test tables (events, orders,
# lineitem): the same row counts, key ranges and cardinalities, and the
# same shapes of distribution, read off those files once. events: 100,000
# rows, ids in time order, times uniform over the 30 days of January 2024,
# 1,500 users, five equally likely types, values exponential with mean 50.
# orders: 150,000 consecutive keys from 0, 15,000 customers, the three
# statuses and five priorities equally likely, order dates uniform over
# 2,405 days from 1995-01-01. lineitem: Poisson(4) lines per order (about
# 600,000 rows; 1.8% of orders have none), each return flag (A, N, R) and
# line status equally likely, ship dates uniform and independent of the
# order date.
MONITOR_EVENTS = 100_000
MONITOR_EVENT_DAYS = 30
MONITOR_EVENT_T0 = 1_704_067_200  # 2024-01-01T00:00:00Z
MONITOR_USERS = 1_500
MONITOR_ORDERS = 150_000
MONITOR_CUSTOMERS = 15_000
MONITOR_ORDER_T0 = 788_918_400    # 1995-01-01T00:00:00Z
MONITOR_LINES_PER_ORDER = 4

STREAM_SEED_DOCS = 400
STREAM_BATCHES = 40
STREAM_BATCH_DOCS = 120

STOPWORDS = ["the", "a", "of", "and", "in", "to"]
T0 = 1_767_571_200  # 2026-01-05T00:00:00Z


def _card(key, value):
    if isinstance(value, bool):
        v = f"{'T' if value else 'F':>20}"
    elif isinstance(value, str):
        v = f"'{value:<8}'"
    else:
        v = f"{value:>20}"
    return f"{key:<8}= {v}".ljust(80)[:80]


def _header(cards):
    text = "".join(cards) + "END".ljust(80)
    pad = (-len(text)) % 2880
    return (text + " " * pad).encode("ascii")


def _data(rng, nbytes):
    return rng.bytes(nbytes) + b"\0" * ((-nbytes) % 2880)


def fits_payload(rng, drop_primary=None):
    """A raw multi-extension FITS file. The primary header carries the
    contract's nine R-flagged primary keywords (DATE-OBS, DEC, FILTER,
    MJD-OBS, OBJECT, OBSTYPE, RA, TELDEC, TELRA); ``drop_primary`` leaves
    one of them out."""
    prim = [("SIMPLE", True), ("BITPIX", 16), ("NAXIS", 0), ("EXTEND", True),
            ("DATE-OBS", "2026-01-05T03:04:05"), ("DEC", "-45:00:00"),
            ("FILTER", "r DECam SDSS c0002"), ("MJD-OBS", 61045.128),
            ("OBJECT", "SN-X3"), ("OBSTYPE", "object"), ("RA", "03:30:00"),
            ("TELDEC", "-45:00:01"), ("TELRA", "03:30:01"),
            ("EXPTIME", 90.0), ("AIRMASS", 1.21)]
    out = [_header([_card(k, v) for k, v in prim if k != drop_primary])]
    for e in range(FITS_EXTENSIONS):
        ext = [("XTENSION", "IMAGE"), ("BITPIX", 16), ("NAXIS", 2),
               ("NAXIS1", FITS_AXIS), ("NAXIS2", FITS_AXIS), ("PCOUNT", 0),
               ("GCOUNT", 1), ("CCDNUM", e + 1)]
        ext += [(k, f"[1:{FITS_AXIS}]" if "SEC" in k else 1.5)
                for k in REQUIRED_EXTENSION]
        out.append(_header([_card(k, v) for k, v in ext]))
        out.append(_data(rng, 2 * FITS_AXIS * FITS_AXIS))
    return b"".join(out)


def manifest_payload(rng, i, j):
    exps = [{"expid": int(x), "band": "griz"[int(x) % 4]}
            for x in rng.integers(100000, 999999, size=6)]
    return json.dumps({"field": f"SN-X{j % 3 + 1}", "delivery": i,
                       "exposures": exps}).encode()


def gen_stagein(work, rng, seed, deliveries=STAGEIN_DELIVERIES, tag="DECam"):
    """Deliveries of FITS raws and SN manifests with their ``.dbb`` notify
    files, and the ledger of expected routes. Per delivery the planted
    rejects are: a duplicate within the batch, a duplicate of the previous
    delivery, an md5 mismatch, a size mismatch, an unknown filetype, a
    raw missing a contract keyword and a notify file with no payload."""
    ledger = []
    prev_good = None
    for i in range(deliveries):
        root = os.path.join(work, "deliveries", f"d{i:04d}")
        t_base = T0 + i * 7 * 3600
        items = []  # (subdir, name, payload or None, declared md5, declared size, reason)

        def raw_name(j):
            return f"{tag}_{seed % 10000:04d}_{i:04d}_{j:03d}.fits.fz"

        goods = []
        for j in range(STAGEIN_GOOD_RAW):
            p = fits_payload(rng)
            items.append(("x", raw_name(j), p, None, None, None))
            goods.append((raw_name(j), p))
        for j in range(STAGEIN_GOOD_MANIFESTS):
            p = manifest_payload(rng, i, j)
            items.append(("x", f"manifest_SN-X{j}_{tag}_{seed % 10000}_{i:04d}.json",
                          p, None, None, None))
        # a second copy of a good raw in another directory of the same
        # delivery, notified later: the later one is the duplicate
        dname, dpay = goods[0]
        items.append(("y", dname, dpay, None, None, "duplicate"))
        if prev_good is not None:
            items.append(("x", prev_good[0], prev_good[1], None, None,
                          "duplicate"))
        p = fits_payload(rng)
        items.append(("x", raw_name(900), p,
                      hashlib.md5(p + b"x").hexdigest(), None, "md5"))
        p = fits_payload(rng)
        items.append(("x", raw_name(901), p, None, len(p) + 1, "size"))
        items.append(("x", f"notes_{tag}_{seed % 10000}_{i:04d}.txt",
                      b"operator notes\n", None, None, "filetype"))
        items.append(("x", raw_name(902), fits_payload(rng, drop_primary="FILTER"),
                      None, None, "keywords"))
        items.append(("x", raw_name(903), None,
                      "0" * 32, 1024, "no_payload"))
        prev_good = goods[1]

        for k, (sub, name, payload, md5_decl, size_decl, reason) in enumerate(items):
            d = os.path.join(root, sub)
            os.makedirs(d, exist_ok=True)
            path = os.path.join(d, name)
            md5 = hashlib.md5(payload).hexdigest() if payload is not None else None
            if payload is not None:
                with open(path, "wb") as f:
                    f.write(payload)
                os.utime(path, (t_base + k, t_base + k))
            with open(path + ".dbb", "w") as f:
                f.write(f"filename = {name}\nmd5sum = {md5_decl or md5}\n"
                        f"filesize = {size_decl if size_decl is not None else len(payload)}\n")
            os.utime(path + ".dbb", (t_base + k, t_base + k))
            ledger.append({
                "delivery": i, "notify": f"d{i:04d}/{sub}/{name}.dbb",
                "name": name,
                "filetype": ("raw" if name.endswith(".fits.fz") else
                             "snmanifest" if name.startswith("manifest_SN") else None),
                "route": "archive" if reason is None else "quarantine",
                "reason": reason, "md5": md5,
                "size": len(payload) if payload is not None else None,
                "missing": "FILTER" if reason == "keywords" else None})
    with open(os.path.join(work, "ledger.json"), "w") as f:
        json.dump(ledger, f)
    return {"deliveries": deliveries}


def gen_monitor(work, rng):
    """events / orders / lineitem with the schemas, row counts, key
    cardinalities and value distributions of the sf0.1 test tables
    (see MONITOR_* above)."""
    data = os.path.join(work, "data")
    os.makedirs(data)
    n, m = MONITOR_EVENTS, MONITOR_ORDERS
    ts_us = np.sort(rng.integers(0, MONITOR_EVENT_DAYS * 86400 * 1_000_000, size=n)) \
        + MONITOR_EVENT_T0 * 1_000_000
    types = np.array(["click", "error", "purchase", "signup", "view"])
    events = pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts_us, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, MONITOR_USERS, size=n, dtype=np.int64)),
        "event_type": pa.array(types[rng.integers(0, 5, size=n)]),
        "value": pa.array(np.round(rng.exponential(50.0, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, size=n)]),
    })
    pq.write_table(events, os.path.join(data, "events.parquet"))
    okeys = np.arange(m, dtype=np.int64)
    days = lambda lo, hi, k: pa.array(
        (MONITOR_ORDER_T0 + rng.integers(lo, hi, size=k) * 86400) * 1_000_000,
        type=pa.timestamp("us"))
    orders = pa.table({
        "o_orderkey": pa.array(okeys),
        "o_custkey": pa.array(rng.integers(0, MONITOR_CUSTOMERS, size=m, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, size=m)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1_000, 500_000, size=m), 2)),
        "o_orderdate": days(0, 2405, m),
        "o_orderpriority": pa.array(np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[
            rng.integers(0, 5, size=m)]),
    })
    pq.write_table(orders, os.path.join(data, "orders.parquet"))
    lines = rng.poisson(MONITOR_LINES_PER_ORDER, size=m)
    lk = np.repeat(okeys, lines)
    nl = len(lk)
    lineitem = pa.table({
        "l_orderkey": pa.array(lk),
        "l_partkey": pa.array(rng.integers(0, 20_000, size=nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, 1_000, size=nl, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=nl).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, size=nl).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 105_000, size=nl), 2)),
        "l_discount": pa.array(rng.integers(0, 11, size=nl) / 100),
        "l_tax": pa.array(rng.integers(0, 9, size=nl) / 100),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, size=nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, size=nl)]),
        "l_shipdate": days(1, 2500, nl),
    })
    pq.write_table(lineitem, os.path.join(data, "lineitem.parquet"))
    return {"input_rows": n + m + nl, "events": n, "orders": m, "lineitem": nl}


def _vocab(rng, n, prefix):
    sy = ["ka", "lo", "mi", "ne", "ru", "sa", "to", "vi", "ze", "po", "qu",
          "di", "fe", "gu", "ha", "jo"]
    words = set()
    while len(words) < n:
        k = int(rng.integers(2, 5))
        words.add(prefix + "".join(sy[int(x)] for x in rng.integers(0, len(sy), size=k)))
    return sorted(words)


def _doc(rng, vocab, lo, hi):
    """A readable, non-repetitive document: vocabulary words, sparse
    stopwords, a full stop now and then."""
    n = int(rng.integers(lo, hi))
    toks = []
    for w in rng.integers(0, len(vocab), size=n):
        r = rng.random()
        if r < 0.06:
            toks.append(STOPWORDS[int(rng.integers(0, len(STOPWORDS)))])
        toks.append(vocab[int(w)] + ("." if r > 0.96 else ""))
    return " ".join(toks)


def gen_stream(work, rng, seed, seed_docs_n=STREAM_SEED_DOCS,
               batches=STREAM_BATCHES, batch_docs=STREAM_BATCH_DOCS):
    """A seed corpus (indexed during set-up) and micro-batch files. Each
    batch mixes fresh documents with verbatim replays of indexed docs,
    replays of docs delivered in earlier batches, and documents that
    repeat one unique token."""
    vocab = _vocab(rng, 3000, "")
    seed_docs = [(i, _doc(rng, vocab, 60, 140)) for i in range(1, seed_docs_n + 1)]
    os.makedirs(os.path.join(work, "seed"))
    pq.write_table(pa.table({"doc_id": pa.array([d[0] for d in seed_docs], type=pa.int64()),
                     "text": pa.array([d[1] for d in seed_docs])}),
           os.path.join(work, "seed", "part-0.parquet"))
    os.makedirs(os.path.join(work, "batches"))
    next_id = 1_000_000
    fresh_so_far = []
    expected = {}
    for b in range(batches):
        rows = []
        for _ in range(batch_docs):
            r = rng.random()
            if r < 0.08:
                text, kind = seed_docs[int(rng.integers(0, len(seed_docs)))][1], "dup"
            elif r < 0.14 and fresh_so_far:
                text, kind = fresh_so_far[int(rng.integers(0, len(fresh_so_far)))], "dup"
            elif r < 0.20:
                text, kind = " ".join([f"rep{seed % 1000}z{next_id}"] * 40), "repetitive"
            else:
                text, kind = _doc(rng, vocab, 60, 140), "admit"
            rows.append((next_id, text))
            expected[str(next_id)] = kind
            next_id += 1
        fresh_so_far += [t for (i, t) in rows if expected[str(i)] == "admit"]
        path = os.path.join(work, "batches", f"b{b:04d}.parquet")
        pq.write_table(pa.table({"doc_id": pa.array([r[0] for r in rows], type=pa.int64()),
                                 "text": pa.array([r[1] for r in rows])}), path)
        os.utime(path, (T0 + b, T0 + b))
    probes = [vocab[int(i)] for i in rng.choice(len(vocab), size=30, replace=False)]
    probes += [f"absent{seed % 1000}x{k}" for k in range(3)]
    with open(os.path.join(work, "planted.json"), "w") as f:
        json.dump({"expected": expected, "batch_docs": batch_docs}, f)
    return {"probe_tokens": probes, "batches": batches, "batch_docs": batch_docs}


def generate(workload, seed, work):
    """Writes the workload's inputs under ``work`` and, under
    ``work/warm``, the warm-up input the run processes once, untimed,
    before the timed rounds."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    warm_rng = np.random.default_rng([seed, sum(map(ord, workload)), 1])
    warm = os.path.join(work, "warm")
    os.makedirs(warm)
    if workload == "stagein_ingest":
        info = gen_stagein(work, rng, seed)
        warm_info = gen_stagein(warm, warm_rng, seed, deliveries=2, tag="warm")
    elif workload == "monitor_report":
        # the monitor only reads its tables, so its warm-up cycle runs on
        # the timed run's own tables: every plan it times is then compiled
        # with the statistics it will see
        info = gen_monitor(work, rng)
        warm_info = {}
    elif workload == "stream_admit":
        info = gen_stream(work, rng, seed)
        warm_info = gen_stream(warm, warm_rng, seed, seed_docs_n=100, batches=1,
                               batch_docs=30)
    else:
        raise ValueError(f"unknown workload {workload}")
    for d, i in ((work, info), (warm, warm_info)):
        i["seed"] = seed
        with open(os.path.join(d, "inputs.json"), "w") as f:
            json.dump(i, f)
    return info
