"""Seeded input generators and the outputs each workload must produce.

Every generator takes a ``random.Random`` built from ``--seed`` and
returns plain Python data: the rows to feed the program plus the expected
outputs, computed here from the generated rows alone, independently of
the program under test. Sizes are fixed; only the values move with the
seed, so runs with different seeds do the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re

DAY = dt.date(2024, 1, 5)  # "today" of every generated stream
_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)

LOG_EVENTS_PER_BATCH = 2000
CDC_ROWS_PER_BATCH = 1000
ORDERS_PER_BATCH = 300
DIM_USERS = 500  # uids 1..500 exist; the stream also uses 501..600 (dim misses)
DIM_PROVINCES = 30  # provinces 1..30 exist; the stream also uses 31..36

# sku names: every brand's CJK characters are disjoint from the others',
# so the expected ES-style AND match is a plain token-subset test
SKUS = [
    "小米手机 12 Pro",
    "小米 Redmi Note 11",
    "华为 Mate 40",
    "华为 P50 Pro",
    "苹果 iPhone 13",
    "苹果手机 SE",
    "OPPO Reno 8",
]


def _ms(t: dt.datetime) -> int:
    return int((t - _EPOCH).total_seconds() * 1000)


def _at(day: dt.date, seconds: int) -> dt.datetime:
    return dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc) + dt.timedelta(
        seconds=seconds
    )


def _utc_date(ms: int) -> str:
    return (_EPOCH + dt.timedelta(milliseconds=ms)).strftime("%Y-%m-%d")


def write_batch_files(root: str, batches: list[list[str]]) -> str:
    """One newline-delimited file per micro-batch, with increasing mtimes:
    the file source orders files by mtime, and ``maxFilesPerTrigger=1``
    then makes file N batch N."""
    os.makedirs(root, exist_ok=True)
    base = 1_700_000_000
    for i, lines in enumerate(batches):
        path = os.path.join(root, f"batch-{i:03d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines) + "\n")
        os.utime(path, (base + 60 * i, base + 60 * i))
    return root


# --------------------------------------------------------------------------
# stream_trickle: the gmall behaviour log, Maxwell CDC and order streams
# --------------------------------------------------------------------------


def dim_rows(rng: random.Random) -> tuple[list[tuple], list[tuple]]:
    users = [
        (
            uid,
            rng.choice("FM"),
            f"{rng.randint(1960, 2010)}-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}",
        )
        for uid in range(1, DIM_USERS + 1)
    ]
    provinces = [
        (pid, f"province_{pid}", f"CN-{pid}", f"CN-P{pid}", f"{pid:03d}")
        for pid in range(1, DIM_PROVINCES + 1)
    ]
    return users, provinces


def _log_line(rng: random.Random, ts: int, exp: dict, entry_only: bool = False) -> str:
    """One behaviour-log envelope; updates the expected per-output keys in
    ``exp`` with the routing the reference defines. ``entry_only`` forces
    a clean session-entry page view."""
    r = 1.0 if entry_only else rng.random()
    if r < 0.02:
        line = "{broken log line " + str(rng.getrandbits(32))
        exp["corrupt"].append(line)
        return line
    if r < 0.03:  # valid JSON, no sections: dead-lettered as missing_device_id
        line = json.dumps({"ts": ts})
        exp["corrupt"].append(line)
        return line
    mid = f"mid_{rng.randrange(1000)}"
    obj: dict = {
        "common": {
            "ar": str(rng.randint(1, DIM_PROVINCES + 6)),
            "uid": str(rng.randint(1, DIM_USERS + 100)),
            "os": "Android 11",
            "ch": rng.choice(["xiaomi", "huawei", "oppo", "web"]),
            "is_new": rng.choice("01"),
            "md": "Xiaomi 9",
            "mid": mid,
            "vc": "v2.1.134",
            "ba": "Xiaomi",
        },
        "ts": ts,
    }
    err = not entry_only and rng.random() < 0.05
    if not entry_only and rng.random() < 0.2:
        obj["start"] = {
            "entry": "icon", "loading_time": rng.randint(100, 5000),
            "open_ad_id": "ad_3", "open_ad_ms": 4000, "open_ad_skip_ms": 0,
        }
        kind = "start"
    else:
        entry = entry_only or rng.random() < 0.4  # session entry: last_page_id is null
        n_disp, n_act = rng.randint(0, 3), rng.randint(0, 3)
        obj["page"] = {
            "page_id": rng.choice(["home", "good_detail", "cart", "search"]),
            "item": str(rng.randint(1, 99)), "item_type": "sku_id",
            "during_time": rng.randint(1000, 30000),
            "last_page_id": None if entry else "home",
            "source_type": "promotion",
        }
        obj["displays"] = [
            {"display_type": "query", "item": str(rng.randint(1, 99)),
             "item_type": "sku_id", "pos_id": str(i + 1), "order": str(i + 1)}
            for i in range(n_disp)
        ]
        obj["actions"] = [
            {"action_id": "favor_add", "item": str(rng.randint(1, 99)),
             "item_type": "sku_id", "ts": ts + 100 + i}
            for i in range(n_act)
        ]
        kind = "page"
    if err:
        obj["err"] = {"error_code": 1023, "msg": "boom"}
        exp["error"].append((mid, ts))
    elif kind == "start":
        exp["start"].append((mid, ts))
    else:
        exp["page"].append((mid, ts))
        exp["display"].extend([(mid, ts)] * len(obj["displays"]))
        exp["action"].extend((mid, a["ts"]) for a in obj["actions"])
        if obj["page"]["last_page_id"] is None:
            exp["dau"].add((mid, _utc_date(ts)))
    return json.dumps(obj)


def log_stream(rng: random.Random, n_batches: int) -> tuple[list[list[str]], list[dict]]:
    """Behaviour-log batches and, per batch, the expected routed keys.

    Every batch carries today's traffic (00:00-12:00 UTC) plus late
    prior-day events (30 % of batch 0, 5 % of later batches), all inside
    the 25 h dedup watermark. Batch 0 opens with a session entry at
    12:00, the latest event time of the run, so the watermark stops
    moving after batch 0 and later batches run no extra no-data batch.
    ``dau`` in batch i lists the (mid, dt) pairs first seen in batch i,
    so the sink's key set is their union."""
    seen: set = set()
    batches, expected = [], []
    prior = DAY - dt.timedelta(days=1)
    for b in range(n_batches):
        exp = {k: [] for k in ("error", "page", "display", "action", "start", "corrupt")}
        exp["dau"] = set()
        lines = [_log_line(rng, _ms(_at(DAY, 12 * 3600)), exp, entry_only=True)] if b == 0 else []
        while len(lines) < LOG_EVENTS_PER_BATCH:
            if rng.random() < (0.3 if b == 0 else 0.05):
                t = _at(prior, 18 * 3600 + rng.randrange(6 * 3600))
            else:
                t = _at(DAY, rng.randrange(12 * 3600))
            lines.append(_log_line(rng, _ms(t) + rng.randrange(1000), exp))
        exp["dau"] -= seen
        seen |= exp["dau"]
        batches.append(lines)
        expected.append(exp)
    return batches, expected


FACT_TABLES = ["order_info", "order_detail"]
DIM_TABLES = ["user_info", "base_province"]
_OP = {"insert": "I", "bootstrap-insert": "I", "update": "U", "delete": "D"}
_OP_RANK = {"D": 2, "U": 1, "I": 0}


def _cdc_line(table: str, typ: str, ts: int, data: dict) -> str:
    return json.dumps(
        {"database": "gmall", "table": table, "type": typ, "ts": ts,
         "data": json.dumps(data), "old": "{}"}
    )


def cdc_stream(rng: random.Random, n_batches: int) -> tuple[list[list[str]], list[dict]]:
    """Maxwell envelopes: fact inserts/updates/deletes, dim upserts that
    race on the same id within a batch (equal timestamps included, so
    the op-rank and value tie-breaks decide), unknown tables and op types
    (dropped) and malformed lines (dead-lettered).

    Expected per batch: fact (topic, value) rows, the winning dim row per
    (table, id), and the dead-lettered line count."""
    batches, expected = [], []
    for b in range(n_batches):
        lines, facts, dims, corrupt = [], [], {}, 0
        for _ in range(CDC_ROWS_PER_BATCH):
            r = rng.random()
            ts = 1_704_400_000 + b * 1000 + rng.randrange(50)
            if r < 0.02:
                lines.append("{broken maxwell payload " + str(rng.getrandbits(32)))
                corrupt += 1
                continue
            if r < 0.04:
                lines.append(_cdc_line("mystery_table", "insert", ts, {"id": "7"}))
                continue
            if r < 0.06:
                lines.append(_cdc_line("user_info", "weird-op", ts, {"id": "2"}))
                continue
            if r < 0.78:
                table = rng.choice(FACT_TABLES)
                typ = rng.choices(["insert", "update", "delete"], [8, 2, 1])[0]
                data = {"id": str(rng.randrange(10**6)), "amount": rng.randint(1, 999)}
                lines.append(_cdc_line(table, typ, ts, data))
                facts.append((f"DWD_{table.upper()}_{_OP[typ]}", json.dumps(data)))
                continue
            table = rng.choice(DIM_TABLES)
            typ = rng.choice(["insert", "bootstrap-insert", "update", "delete"])
            key = str(rng.randrange(40 if table == "user_info" else 12))
            data = {"id": key, "name": f"{table}_{key}_v{rng.randrange(1000)}"}
            lines.append(_cdc_line(table, typ, ts, data))
            value = json.dumps(data)
            cand = (ts, _OP_RANK[_OP[typ]], value, _OP[typ])
            if (table, key) not in dims or cand[:3] > dims[(table, key)][:3]:
                dims[(table, key)] = cand
        batches.append(lines)
        expected.append(
            {
                "facts": sorted(facts),
                "dims": sorted(
                    (t, k, v[2], v[3], v[0]) for (t, k), v in dims.items()
                ),
                "corrupt": corrupt,
            }
        )
    return batches, expected


def order_streams(
    rng: random.Random, n_batches: int
) -> tuple[list[list[str]], list[list[str]], set[int]]:
    """order_info / order_detail batches: 1-5 details per order; about a
    third of the orders send their info one batch after their details,
    another third send some details one batch late; ~3 % of details are
    orphans whose order never arrives. Users and provinces include ids
    missing from the dims. Orders are placed 08:00-12:00 UTC; the first
    order of batch 0 is placed at 12:05, the latest time of the run, so
    both join watermarks stop moving after batch 0. Returns (info
    batches, detail batches, the detail ids the inner stream-stream
    join must emit)."""
    info_b = [[] for _ in range(n_batches)]
    det_b = [[] for _ in range(n_batches)]
    matched: set[int] = set()
    next_detail = 1
    for b in range(n_batches):
        for j in range(ORDERS_PER_BATCH):
            oid = b * 100_000 + j
            latest = b == 0 and j == 0  # 12:05, pins both join watermarks
            t = _at(DAY, 12 * 3600 + 300 if latest else 8 * 3600 + rng.randrange(4 * 3600))
            ct = t.strftime("%Y-%m-%d %H:%M:%S")
            total = 0.0
            details = []
            for _ in range(rng.randint(1, 5)):
                amount = float(rng.randint(1, 500))
                total += amount
                dct = t + dt.timedelta(seconds=0 if latest else rng.randrange(120))
                dct = dct.strftime("%Y-%m-%d %H:%M:%S")
                details.append(json.dumps({
                    "id": next_detail, "order_id": oid, "sku_id": rng.randrange(100),
                    "order_price": amount, "sku_num": 1, "sku_name": rng.choice(SKUS),
                    "create_time": dct, "split_total_amount": amount,
                    "split_activity_amount": 0.0, "split_coupon_amount": 0.0,
                }))
                matched.add(next_detail)
                next_detail += 1
            info = json.dumps({
                "id": oid, "province_id": rng.randint(1, DIM_PROVINCES + 6),
                "order_status": "1001", "user_id": rng.randint(1, DIM_USERS + 100),
                "total_amount": total, "activity_reduce_amount": 0.0,
                "coupon_reduce_amount": 0.0, "original_total_amount": total,
                "feight_fee": 8.0, "feight_fee_reduce": 0.0, "expire_time": "",
                "refundable_time": "", "create_time": ct, "operate_time": "",
            })
            late = b + 1 < n_batches and not latest
            r = rng.random()
            if late and r < 0.33:  # details first, info a batch later
                info_b[b + 1].append(info)
                det_b[b].extend(details)
            elif late and r < 0.66 and len(details) > 1:  # some details late
                info_b[b].append(info)
                det_b[b].append(details[0])
                det_b[b + 1].extend(details[1:])
            else:
                info_b[b].append(info)
                det_b[b].extend(details)
        for _ in range(ORDERS_PER_BATCH // 10):  # orphans: info never arrives
            det_b[b].append(json.dumps({
                "id": next_detail, "order_id": 9_000_000 + next_detail, "sku_id": 1,
                "order_price": 1.0, "sku_num": 1, "sku_name": SKUS[0],
                "create_time": _at(DAY, 3600 * 9).strftime("%Y-%m-%d %H:%M:%S"),
                "split_total_amount": 1.0, "split_activity_amount": 0.0,
                "split_coupon_amount": 0.0,
            }))
            next_detail += 1
    return info_b, det_b, matched


# --------------------------------------------------------------------------
# publisher_serve: the dau and order-wide sinks a running app leaves behind
# --------------------------------------------------------------------------

SINK_BATCHES = 3
DAU_ROWS_PER_BATCH = 1500
WIDE_ROWS_PER_BATCH = 1500
SERVE_DAYS = [DAY - dt.timedelta(days=d) for d in (2, 1, 0)]

_CJK = re.compile(r"([぀-ヿ㐀-䶿一-鿿])")


def _tokens(s: str) -> set[str]:
    """ES standard-analyzer tokens: lowercase, CJK characters as single
    tokens, whitespace split for the rest."""
    return set(_CJK.sub(r" \1 ", s.lower()).split())


def serve_rows(rng: random.Random) -> tuple[list[list[dict]], list[list[dict]]]:
    """Rows for SINK_BATCHES uncompacted batches of the dau sink (unique
    (mid, dt) across batches, as the dau app's dedup state guarantees)
    and of the order-wide sink (unique detail_id). Amounts are whole
    numbers so expected sums are exact."""
    dau, wide = [], []
    mids = {d: iter(rng.sample(range(100_000), SINK_BATCHES * DAU_ROWS_PER_BATCH)) for d in SERVE_DAYS}
    detail = 0
    for _ in range(SINK_BATCHES):
        rows = []
        for _ in range(DAU_ROWS_PER_BATCH):
            day = rng.choice(SERVE_DAYS)
            hour = rng.randrange(24)
            miss = rng.random() < 0.1
            rows.append({
                "mid": f"mid_{next(mids[day])}",
                "user_id": rng.randint(1, 600),
                "province_id": rng.randint(1, 36),
                "channel": rng.choice(["xiaomi", "huawei", "web"]),
                "is_new": rng.choice("01"),
                "event_ts": dt.datetime(day.year, day.month, day.day, hour, rng.randrange(60)),
                "user_gender": None if miss else rng.choice("FM"),
                "user_age": None if miss else rng.randint(12, 70),
                "province_name": f"province_{rng.randint(1, 30)}",
                "dt": day.isoformat(),
                "hr": f"{hour:02d}",
            })
        dau.append(rows)
        rows = []
        for _ in range(WIDE_ROWS_PER_BATCH):
            day = rng.choice(SERVE_DAYS)
            ct = f"{day.isoformat()} {rng.randrange(24):02d}:{rng.randrange(60):02d}:{rng.randrange(60):02d}"
            amount = float(rng.randint(1, 500))
            miss = rng.random() < 0.1
            detail += 1
            rows.append({
                "detail_id": detail,
                "order_id": detail // 3,
                "sku_id": rng.randrange(100),
                "order_price": amount,
                "sku_num": 1,
                "sku_name": rng.choice(SKUS),
                "split_total_amount": amount,
                "split_activity_amount": 0.0,
                "split_coupon_amount": 0.0,
                "province_id": rng.randint(1, 36),
                "order_status": "1001",
                "user_id": rng.randint(1, 600),
                "total_amount": amount,
                "create_time": ct,
                "user_gender": None if miss else rng.choice("FM"),
                "user_age": None if miss else rng.randint(12, 70),
                "province_name": f"province_{rng.randint(1, 30)}",
                "create_date": day.isoformat(),
                "create_hour": ct[11:13],
            })
        wide.append(rows)
    return dau, wide


def expected_dau(dau_rows: list[dict], td: str) -> dict:
    yd = (dt.date.fromisoformat(td) - dt.timedelta(days=1)).isoformat()
    tdh: dict[str, int] = {}
    ydh: dict[str, int] = {}
    for r in dau_rows:
        if r["dt"] == td:
            tdh[r["hr"]] = tdh.get(r["hr"], 0) + 1
        elif r["dt"] == yd:
            ydh[r["hr"]] = ydh.get(r["hr"], 0) + 1
    return {"dauTotal": sum(tdh.values()), "dauTd": tdh, "dauYd": ydh}


def expected_stats(wide_rows: list[dict], item: str, date: str, t: str) -> list[dict]:
    """statsByItem: AND-match on sku_name, grouped by gender label or age
    band, amounts summed. A row missing its user dim has a null gender
    (its own null bucket) and a null age, which the age recode's
    ``otherwise`` branch files under the 30+ band."""
    want = _tokens(item)
    sums: dict = {}
    for r in wide_rows:
        if r["create_date"] != date or not want <= _tokens(r["sku_name"]):
            continue
        if t == "gender":
            g = r["user_gender"]
            name = {"F": "女", "M": "男"}.get(g, g)
        else:
            a = r["user_age"]
            name = (
                "20岁以下" if a is not None and a < 20
                else "20岁到29岁" if a is not None and a <= 29
                else "30岁及30岁以上"
            )
        sums[name] = sums.get(name, 0.0) + r["split_total_amount"]
    keys = sorted(sums, key=lambda n: (n is not None, n or ""))  # nulls first
    return [{"name": n, "value": round(sums[n], 2)} for n in keys]


def expected_detail_total(wide_rows: list[dict], item: str, date: str) -> int:
    want = _tokens(item)
    return sum(
        1 for r in wide_rows
        if r["create_date"] == date and want <= _tokens(r["sku_name"])
    )
