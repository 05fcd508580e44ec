"""Seeded input generator of the fraud_daily workload.

Writes D consecutive days of the reference's daily drop
(`transactions_DDMMYYYY.txt`, `passport_blacklist_DDMMYYYY.csv`,
`terminals_DDMMYYYY.csv`, all `;`-separated) and the client and account
dimensions as parquet. Background traffic is hit-free by construction:

- every card has a home city and only uses terminals of that city, and
  terminal churn changes addresses and types, never cities;
- passports and accounts of background clients are valid far beyond the
  last day, and no background client is blacklisted;
- a card's PAYMENT/WITHDRAW sequence never holds two REJECTs in a row,
  so no run of three decreasing REJECTs can exist;
- every transaction second of a day is distinct.

Planted cases then give the exact expected mart per rule, and the
planted terminal churn (new, changed, deleted per day) gives the exact
SCD2 history row count and current view. Every draw comes from one numpy
Generator seeded with the workload seed.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.csv as pcsv
import pyarrow.parquet as pq

CITIES = ["Moscow", "Riga", "Oslo", "Bern", "Vilnius", "Tallinn", "Helsinki",
          "Warsaw", "Prague", "Vienna", "Lisbon", "Madrid", "Dublin",
          "Zagreb", "Sofia", "Athens", "Rome", "Milan", "Lyon", "Porto",
          "Gdansk", "Krakow", "Brno", "Graz", "Basel", "Geneva", "Turku",
          "Tartu", "Kaunas", "Bergen", "Malmo", "Aarhus"]
TERM_TYPES = ["ATM", "POS"]
STREETS = ["Lenina", "Gagarina", "Mira", "Sadovaya", "Lesnaya", "Shkolnaya",
           "Polevaya", "Sovetskaya"]
FAR_DATE = dt.date(2099, 12, 31)
DAY_S = 86_400


def batch_id(day):
    """`DDMMYYYY`, the reference's drop-name stamp."""
    return day.strftime("%d%m%Y")


def _write_drop(path, columns):
    """`;`-separated, unquoted, with a header line."""
    table = pa.table(columns)
    with open(path, "wb") as f:
        f.write((";".join(table.column_names) + "\n").encode())
        pcsv.write_csv(table, f, pcsv.WriteOptions(
            delimiter=";", include_header=False, quoting_style="none"))


def fraud_daily(out_dir, seed, days=3, txns_per_day=50_000,
                n_clients=20_000, n_terminals=2_000, plants_per_day=8):
    """Writes the drops under `out_dir/days/<DDMMYYYY>/`, the dimensions
    under `out_dir/dwh/`, and returns the planted answers."""
    rng = np.random.default_rng(seed)
    # the start date comes from the seed; some seeds cross a month end
    start = dt.date(2021, 3, 1) + dt.timedelta(days=int(rng.integers(0, 40)))
    dates = [start + dt.timedelta(days=i) for i in range(days)]
    ncity = len(CITIES)

    # ---- clients and accounts; a card number is its client's key
    keys = np.arange(1, n_clients + 1, dtype=np.int64)
    home = rng.integers(0, ncity, n_clients)
    pass_to = np.full(n_clients, FAR_DATE)
    acct_to = np.full(n_clients, FAR_DATE)
    # planted expiries and blacklist entries: disjoint client sets
    special = rng.choice(keys, size=4 * plants_per_day, replace=False)
    for c in special[:plants_per_day]:
        pass_to[c - 1] = dates[int(rng.integers(0, days))] - dt.timedelta(days=1)
    for c in special[plants_per_day:2 * plants_per_day]:
        acct_to[c - 1] = dates[int(rng.integers(0, days))] - dt.timedelta(days=1)
    blacklist_pool = special[2 * plants_per_day:]
    os.makedirs(f"{out_dir}/dwh", exist_ok=True)
    pq.write_table(pa.table({
        "c_custkey": keys,
        "fio": [f"CLIENT {k:06d}" for k in keys],
        "passport_num": [f"{k % 10000:04d} {k * 7919 % 1000000:06d}" for k in keys],
        "phone": [f"+7{k * 104729 % 1000000000:09d}" for k in keys],
        "segment": rng.choice(["STD", "VIP", "BIZ"], n_clients),
        "passport_valid_to": pa.array(pass_to, pa.date32()),
    }), f"{out_dir}/dwh/clients.parquet")
    pq.write_table(pa.table({
        "client": keys,
        "valid_to": pa.array(acct_to, pa.date32()),
    }), f"{out_dir}/dwh/accounts.parquet")

    # ---- terminals: id -> [type, city, address]; churn never moves a city
    term, made = {}, [0]

    def new_terminal(city):
        term[f"T{made[0]:06d}"] = [
            str(rng.choice(TERM_TYPES)), CITIES[city],
            f"ul. {rng.choice(STREETS)} {rng.integers(1, 200)}"]
        made[0] += 1
    for i in range(n_terminals):
        new_terminal(i % ncity)
    stable = {f"T{i:06d}" for i in range(ncity)}  # one per city, never churned

    expected = {"days": [], "mart": []}
    hist_rows = 0
    for d, day in enumerate(dates):
        bid = batch_id(day)
        ddir = f"{out_dir}/days/{bid}"
        os.makedirs(ddir, exist_ok=True)
        n_new = n_chg = n_del = 0
        if d > 0:
            n_new, n_chg, n_del = (int(x) for x in rng.integers(5, 40, 3))
            live = sorted(set(term) - stable)
            picks = rng.choice(len(live), size=n_chg + n_del, replace=False)
            for j in picks[:n_chg]:
                t = term[live[j]]
                t[0] = TERM_TYPES[1 - TERM_TYPES.index(t[0])]
                t[2] = f"ul. {rng.choice(STREETS)} {rng.integers(200, 400)}"
            for j in picks[n_chg:]:
                del term[live[j]]
            for c in rng.integers(0, ncity, n_new):
                new_terminal(int(c))
        hist_rows += len(term) if d == 0 else n_new + n_chg + n_del
        tids = sorted(term)
        _write_drop(f"{ddir}/terminals_{bid}.csv", {
            "terminal_id": tids,
            **{k: [term[t][i] for t in tids] for i, k in enumerate(
                ["terminal_type", "terminal_city", "terminal_address"])}})
        # terminals grouped by city; a city's first entry is its stable one
        city_of = np.array([CITIES.index(term[t][1]) for t in tids])
        order = np.argsort(city_of, kind="stable")
        flat = np.array(tids)[order]
        first = np.searchsorted(city_of[order], np.arange(ncity))
        count = np.bincount(city_of, minlength=ncity)

        # ---- background: distinct seconds, home-city terminals
        secs = np.sort(rng.choice(DAY_S, size=txns_per_day, replace=False))
        cards = rng.choice(keys, size=txns_per_day)
        ops = rng.choice(["PAYMENT", "WITHDRAW", "DEPOSIT"], txns_per_day,
                         p=[0.6, 0.3, 0.1])
        cents = rng.integers(100, 5_000_000, txns_per_day)
        reject = rng.random(txns_per_day) < 0.05
        last_rej = {}
        for i in np.flatnonzero(ops != "DEPOSIT"):  # no two REJECTs in a row
            c = cards[i]
            if reject[i] and last_rej.get(c, False):
                reject[i] = False
            last_rej[c] = reject[i]
        city = home[cards - 1]
        term_ix = first[city] + (rng.random(txns_per_day) * count[city]).astype(np.int64)
        tx = {"card": list(cards), "sec": list(secs), "op": list(ops),
              "res": list(np.where(reject, "REJECT", "SUCCESS")),
              "cents": list(cents), "terminal": list(flat[term_ix])}
        hits = []

        def add(card, sec, op, res, amount, terminal):
            for k, v in zip(tx, (card, sec, op, res, amount, terminal)):
                tx[k].append(v)

        # ---- planted city and amount-guessing cases, on cards idle today
        idle = np.setdiff1d(keys, np.concatenate([cards, special]))
        planted = rng.choice(idle, size=2 * plants_per_day, replace=False)
        free = np.setdiff1d(np.arange(DAY_S - 7_200), secs)
        for c in planted[:plants_per_day]:  # home city, then abroad within the hour
            t0 = int(rng.choice(free))
            here = home[c - 1]
            there = (here + int(rng.integers(1, ncity))) % ncity
            add(c, t0, "PAYMENT", "SUCCESS", int(rng.integers(100, 90_000)), flat[first[here]])
            add(c, t0 + int(rng.integers(60, 3_540)), "PAYMENT", "SUCCESS",
                int(rng.integers(100, 90_000)), flat[first[there]])
            hits.append(("city_fraud", c, t0))
        for c in planted[plants_per_day:]:  # three falling REJECTs, then a lower SUCCESS
            t0 = int(rng.choice(free))
            offs = [0, *np.sort(rng.choice(np.arange(1, 1_200), 3, replace=False))]
            amts = np.sort(rng.choice(np.arange(100, 900_000), 4, replace=False))[::-1]
            for k in range(4):
                add(c, t0 + int(offs[k]), str(rng.choice(["PAYMENT", "WITHDRAW"])),
                    "REJECT" if k < 3 else "SUCCESS", int(amts[k]), flat[first[home[c - 1]]])
            hits.append(("guessing_amount_fraud", c, t0 + int(offs[3])))

        # ---- blacklist: today's entries from the pool, each with traffic
        bl = rng.choice(blacklist_pool, size=int(rng.integers(1, 4)), replace=False)
        for c in bl:
            add(c, int(rng.choice(free)), "PAYMENT", "SUCCESS",
                int(rng.integers(100, 90_000)), flat[first[home[c - 1]]])
        _write_drop(f"{ddir}/passport_blacklist_{bid}.csv",
                    {"date": [day.isoformat()] * len(bl), "passport": bl})

        # ---- the day's transactions; ids unique across days
        card = np.array(tx["card"], dtype=np.int64)
        sec = np.array(tx["sec"], dtype=np.int64)
        amount = np.array(tx["cents"], dtype=np.int64)
        _write_drop(f"{ddir}/transactions_{bid}.txt", {
            "transaction_id": (d + 1) * 10_000_000 + np.arange(len(card)),
            "transaction_date": np.datetime64(day.isoformat()) + sec.astype("timedelta64[s]"),
            "amount": amount / 100,  # shortest repr; round(amount * 100) restores the cents
            "card_num": card, "oper_type": tx["op"], "oper_result": tx["res"],
            "terminal": tx["terminal"]})
        passport = np.isin(card, bl) | (pass_to[card - 1] < day)
        account = acct_to[card - 1] < day
        hits += [("passport_fraud", c, s) for c, s in zip(card[passport], sec[passport])]
        hits += [("account_fraud", c, s) for c, s in zip(card[account], sec[account])]
        day_us = int((np.datetime64(day.isoformat(), "us") - np.datetime64(0, "us"))
                     .astype(np.int64))
        expected["mart"] += [[r, day.isoformat(), int(c), day_us + int(s) * 1_000_000]
                             for r, c, s in hits]
        expected["days"].append({
            "batch_id": bid, "date": day.isoformat(),
            "new": n_new, "changed": n_chg, "deleted": n_del,
            "history_rows": hist_rows})
    expected["current"] = [[t] + term[t] for t in sorted(term)]
    with open(f"{out_dir}/expected.json", "w") as f:
        json.dump(expected, f)
    return expected
