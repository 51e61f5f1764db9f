#!/usr/bin/env python3
"""Seeded input generators for the benchmark workloads.

    python3 perfbench/fixtures.py --workload sync --seed 1 --out DIR

writes the workload's input files under DIR and the answers the program
must produce from them under DIR/expected/, computed here with numpy so
that no output check depends on the code under test. The same seed always
gives the same files. Prints one JSON line of fixture sizes.

  sync, serve  DIR/cur-src/cur/year=Y/month=M/part-F.parquet: CUR line items
               (41 columns) over four months, four files a month, eight
               account ids (five registered with the program, one of them
               region-ruled).
  stream       DIR/drops/cur-day-NNN.parquet: daily CUR drops; from the
               second drop on, 10 % of the previous drop's line items are
               re-issued unchanged. Modification times follow drop order.
  corpus       DIR/docs/part-0.parquet: documents of 20-140 words, one in
               ten German, plus word-level near-duplicates of 15 % of them.
"""
import argparse
import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGISTERED = ["111111111111", "222222222222", "333333333333", "444444444444"]
REGION_RULED = ("905174205951", "ap-southeast-2")
UNREGISTERED = ["555555555555", "666666666666", "777777777777"]
ACCOUNTS = REGISTERED + [REGION_RULED[0]] + UNREGISTERED
REGIONS = ["us-east-1", "us-west-2", "eu-west-1", "ap-southeast-2", "ap-northeast-1", "sa-east-1"]
SERVICES = ["AmazonEC2", "AmazonS3", "AmazonRDS", "AWSLambda", "AmazonDynamoDB",
            "AmazonCloudFront", "AmazonEKS", "AmazonSQS", "AmazonSNS", "AmazonRedshift",
            "AWSGlue", "AmazonKinesis"]
MONTHS = [(2024, 1), (2024, 2), (2024, 3), (2024, 4)]  # the last three are the sync window
DAYS_PER_MONTH = 28
FILES_PER_MONTH = 4

SIZES = {
    "cur_rows": 200_000,
    "drop_days": 30,
    "drop_rows_per_day": 1_000,
    "reissue_pct": 10,
    "docs": 1_500,
    "near_dup_pct": 15,
}

VOCAB = ["spark", "table", "query", "stream", "batch", "column", "vector", "scan", "sort",
         "hash", "join", "window", "merge", "filter", "group", "value", "key", "row", "part",
         "data", "index", "shard", "token", "model", "corpus", "cloud", "cost", "region",
         "account", "service", "bucket", "cluster", "node", "cache", "disk", "memory",
         "network", "latency", "budget", "report", "invoice", "usage", "metric", "trend",
         "daily", "monthly", "storage", "compute", "lambda", "queue"]
EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "on", "for", "with"]
DE_STOP = ["der", "die", "das", "und", "ist", "nicht", "mit", "ein"]


def pick(values, idx):
    return pa.array(np.asarray(values)[idx])


def cur_table(rng, seed, ids, ts_us):
    """~40 CUR line-item columns for line-item ids `ids` at usage times `ts_us`."""
    n = len(ids)
    acct = rng.integers(0, len(ACCOUNTS), n)
    svc = rng.integers(0, len(SERVICES), n)
    reg = rng.integers(0, len(REGIONS), n)
    cost = rng.integers(0, 1_000_000, n) / 10_000.0
    usage = rng.integers(0, 100_000, n) / 1_000.0
    ts = pa.array(ts_us, type=pa.timestamp("us", tz="UTC"))
    day = ts_us // 86_400_000_000
    d64 = day.astype("datetime64[D]")
    period_start = d64.astype("datetime64[M]").astype("datetime64[us]").astype(np.int64)
    period_end = (d64.astype("datetime64[M]") + 1).astype("datetime64[us]").astype(np.int64)
    id_str = pc.cast(pa.array(ids), pa.string())
    ints = lambda m: pc.cast(pa.array(rng.integers(0, m, n)), pa.string())
    cat = lambda prefix, arr: pc.binary_join_element_wise(prefix, arr, "")
    services = pick(SERVICES, svc)
    regions = pick(REGIONS, reg)
    cols = {
        "identity_line_item_id": cat(f"li-{seed}-", id_str),
        "identity_time_interval": pc.strftime(ts, format="%Y-%m-%dT%H:00:00Z"),
        "bill_invoice_id": cat("inv-", ints(900)),
        "bill_billing_entity": pa.array(["AWS"] * n),
        "bill_bill_type": pa.array(["Anniversary"] * n),
        "bill_payer_account_id": pa.array(["999999999999"] * n),
        "bill_billing_period_start_date": pa.array(period_start, type=pa.timestamp("us", tz="UTC")),
        "bill_billing_period_end_date": pa.array(period_end, type=pa.timestamp("us", tz="UTC")),
        "line_item_usage_account_id": pick(ACCOUNTS, acct),
        "line_item_line_item_type": pick(["Usage", "Tax", "Credit", "DiscountedUsage"], rng.integers(0, 4, n)),
        "line_item_usage_start_date": ts,
        "line_item_usage_end_date": pa.array(ts_us + 3_600_000_000, type=pa.timestamp("us", tz="UTC")),
        "line_item_product_code": services,
        "line_item_usage_type": cat("usage-", ints(50)),
        "line_item_operation": cat("op-", ints(20)),
        "line_item_availability_zone": pc.binary_join_element_wise(regions, "a", ""),
        "line_item_resource_id": cat("arn:aws:res/", ints(5000)),
        "line_item_usage_amount": pa.array(usage),
        "line_item_normalization_factor": pa.array(np.ones(n)),
        "line_item_normalized_usage_amount": pa.array(usage),
        "line_item_currency_code": pa.array(["USD"] * n),
        "line_item_unblended_rate": pa.array(cost / (usage + 1.0)),
        "line_item_unblended_cost": pa.array(cost),
        "line_item_blended_rate": pa.array(cost / (usage + 1.0)),
        "line_item_blended_cost": pa.array(cost * 0.97),
        "line_item_line_item_description": cat("charge for ", services),
        "line_item_tax_type": pa.array([""] * n),
        "product_product_name": services,
        "product_servicename": services,
        "product_region": regions,
        "product_location": cat("loc-", regions),
        "product_instance_type": pick(["m5.large", "c6g.xlarge", "r6i.2xlarge", "t3.micro"], rng.integers(0, 4, n)),
        "product_operating_system": pick(["Linux", "Windows"], rng.integers(0, 2, n)),
        "product_sku": cat("SKU", ints(2000)),
        "pricing_term": pick(["OnDemand", "Reserved"], rng.integers(0, 2, n)),
        "pricing_unit": pa.array(["Hrs"] * n),
        "pricing_public_on_demand_cost": pa.array(cost * 1.1),
        "reservation_reservation_a_r_n": pa.array([""] * n),
        "savings_plan_savings_plan_a_r_n": pa.array([""] * n),
        "resource_tags_user_team": cat("team-", ints(12)),
        "resource_tags_user_env": pick(["prod", "staging", "dev"], rng.integers(0, 3, n)),
    }
    return pa.table(cols), acct, svc, reg, cost, day


def epoch_us(y, m, d):
    return int((dt.datetime(y, m, d, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000)


def write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(repr(x) if isinstance(x, float) else str(x) for x in r) + "\n")


def gen_cur(seed, out):
    """CUR root plus the sync window's (date, account, service, region) cells."""
    rng = np.random.default_rng([seed, 1])
    n = SIZES["cur_rows"]
    per_file = n // (len(MONTHS) * FILES_PER_MONTH)
    root = os.path.join(out, "cur-src", "cur")
    keys, costs = [], []
    total_bytes = window_bytes = 0
    next_id = 0
    for (y, m) in MONTHS:
        for f in range(FILES_PER_MONTH):
            ids = np.arange(next_id, next_id + per_file)
            next_id += per_file
            days = rng.integers(0, DAYS_PER_MONTH, per_file)
            hours = rng.integers(0, 24, per_file)
            ts_us = epoch_us(y, m, 1) + days * 86_400_000_000 + hours * 3_600_000_000
            t, acct, svc, reg, cost, day = cur_table(rng, seed, ids, ts_us)
            d = os.path.join(root, f"year={y}", f"month={m}")
            os.makedirs(d, exist_ok=True)
            p = os.path.join(d, f"part-{f:03d}.parquet")
            pq.write_table(t, p)
            size = os.path.getsize(p)
            total_bytes += size
            if (y, m) in MONTHS[1:]:
                window_bytes += size
                keep = (acct < len(REGISTERED)) | ((acct == len(REGISTERED)) &
                                                   (reg == REGIONS.index(REGION_RULED[1])))
                keys.append(((day * len(ACCOUNTS) + acct) * len(SERVICES) + svc) * len(REGIONS) + reg)
                keys[-1] = keys[-1][keep]
                costs.append(cost[keep])
    uniq, inv = np.unique(np.concatenate(keys), return_inverse=True)
    sums = np.bincount(inv, weights=np.concatenate(costs))
    counts = np.bincount(inv)
    rows = []
    for k, s, c in zip(uniq, sums, counts):
        k, reg = divmod(int(k), len(REGIONS))
        k, svc = divmod(k, len(SERVICES))
        day, acct = divmod(k, len(ACCOUNTS))
        rows.append((str(np.datetime64(day, "D")), ACCOUNTS[acct], SERVICES[svc], REGIONS[reg], float(s), int(c)))
    exp = os.path.join(out, "expected")
    os.makedirs(exp, exist_ok=True)
    write_tsv(os.path.join(exp, "cur_cells.tsv"), rows)
    return {"cur_rows": next_id, "cur_files": len(MONTHS) * FILES_PER_MONTH, "cur_columns": 41,
            "cur_bytes": total_bytes, "window_bytes": window_bytes,
            "window_rows": int(counts.sum())}


def gen_drops(seed, out):
    """Daily drops with re-issued line items; expected per-service sums of the unique ones."""
    rng = np.random.default_rng([seed, 2])
    days, per_day, pct = SIZES["drop_days"], SIZES["drop_rows_per_day"], SIZES["reissue_pct"]
    d = os.path.join(out, "drops")
    os.makedirs(d, exist_ok=True)
    svcs, costs, rows, total_rows, total_bytes = [], [], 0, 0, 0
    prev = None
    t0 = int(dt.datetime.now().timestamp()) - days
    for k in range(days):
        ids = np.arange(k * per_day, (k + 1) * per_day)
        ts_us = epoch_us(2024, 5, 1) + k * 86_400_000_000 + rng.integers(0, 24, per_day) * 3_600_000_000
        t, _, svc, _, cost, _ = cur_table(rng, seed, ids, ts_us)
        svcs.append(svc)
        costs.append(cost)
        rows += per_day
        full = t
        if prev is not None:
            again = prev.take(np.sort(rng.choice(prev.num_rows, prev.num_rows * pct // 100, replace=False)))
            full = pa.concat_tables([t, again])
        prev = t
        p = os.path.join(d, f"cur-day-{k:03d}.parquet")
        pq.write_table(full, p)
        os.utime(p, (t0 + k, t0 + k))
        total_rows += full.num_rows
        total_bytes += os.path.getsize(p)
    exp = os.path.join(out, "expected")
    os.makedirs(exp, exist_ok=True)
    sums = np.bincount(np.concatenate(svcs), weights=np.concatenate(costs), minlength=len(SERVICES))
    write_tsv(os.path.join(exp, "stream_sums.tsv"),
              [(SERVICES[i], float(v)) for i, v in enumerate(sums)] + [("__rows__", rows)])
    return {"drop_files": days, "drop_rows": total_rows, "unique_rows": rows, "drop_bytes": total_bytes}


def gen_corpus(seed, out):
    """Documents with near-duplicates; expected: the input doc ids."""
    rng = np.random.default_rng([seed, 3])
    n = SIZES["docs"]
    words = np.asarray(VOCAB + EN_STOP)
    de = np.asarray(DE_STOP)
    german = set(rng.choice(n, n // 10, replace=False).tolist())
    ids, texts = [], []
    for i in range(n):
        toks = words[rng.integers(0, len(words), rng.integers(20, 141))]
        if i in german:
            toks = np.where(rng.integers(0, 4, len(toks)) == 0, de[rng.integers(0, len(de), len(toks))], toks)
        ids.append(i)
        texts.append(" ".join(toks))
    for i in sorted(rng.choice(n, n * SIZES["near_dup_pct"] // 100, replace=False).tolist()):
        toks = np.asarray(texts[i].split(" "))
        toks = np.where(rng.integers(0, 20, len(toks)) == 0, "variant", toks)
        ids.append(1_000_000 + i)
        texts.append(" ".join(toks))
    d = os.path.join(out, "docs")
    os.makedirs(d, exist_ok=True)
    p = os.path.join(d, "part-0.parquet")
    pq.write_table(pa.table({"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts)}), p)
    exp = os.path.join(out, "expected")
    os.makedirs(exp, exist_ok=True)
    write_tsv(os.path.join(exp, "corpus_ids.tsv"), [(i,) for i in ids])
    return {"docs": len(ids), "near_duplicates": len(ids) - n, "docs_bytes": os.path.getsize(p)}


GENERATORS = {"sync": gen_cur, "serve": gen_cur, "stream": gen_drops, "corpus": gen_corpus}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--summary", help="write the sizes here (written last, when the inputs are complete)")
    a = ap.parse_args()
    t0 = time.monotonic()
    sizes = GENERATORS[a.workload](a.seed, a.out)
    sizes["fixture_s"] = time.monotonic() - t0
    if a.summary:
        with open(a.summary + ".part", "w") as f:
            json.dump(sizes, f)
        os.replace(a.summary + ".part", a.summary)
    print(json.dumps(sizes))


if __name__ == "__main__":
    main()
