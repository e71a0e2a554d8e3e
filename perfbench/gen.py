"""Seeded input generators for the two benchmark workloads.

Every table is a pure function of (workload, seed): numpy's PCG64 stream
seeded with the run's seed, no wall clock. The program under test only ever
sees the parquet files written here.

    python3 perfbench/gen.py <workload> <seed> <out_dir>
"""
import datetime as dt
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- shapes --

# overnight: one night of the scanner universe at market scale (BASELINE.md:
# 3,000+ tickers scanned nightly). Daily bars exist, as in the system, for
# the tickers that were ever signals: tonight's hot ones and the pool the
# earlier nights' signals came from.
N_TICKERS = 3000           # snapshot rows (some are not in the universe)
HOT_SHARE = 0.04           # tickers with unusual flow tonight
N_INDUSTRIES = 60
CONTRACTS_PER_SIDE = 10    # calls and puts per ticker, <= 45-day expiries
DAILY_BARS = 290           # 420 calendar days, enough for SMA200
HIST_POOL_COLD = 150       # cold tickers that were signals on earlier nights
HIST_NIGHTS = 5            # earlier nights seeded into the tracking table
HIST_ROWS_PER_NIGHT = 150
N_AGENTS = 5

# research: historical trades replayed through the sweep grid
N_TRADES = 800
RESEARCH_SESSIONS = 1      # 390 minute bars per session
N_CONFIGS = 12

# catalog: same schema and value domains as the sf0.01 testdata tables
CATALOG_ROWS = dict(customer=1500, supplier=100, part=2000, orders=15000,
                    lineitem=60000, events=10000, documents=500,
                    embeddings=500)

SCAN_DATE = dt.date(2026, 3, 16)          # Monday
MINUTES_PER_SESSION = 390
MS_PER_MIN = 60_000
HOLIDAYS = {dt.date(2026, 1, 1), dt.date(2026, 1, 19), dt.date(2026, 2, 16),
            dt.date(2026, 4, 3), dt.date(2026, 5, 25), dt.date(2026, 6, 19),
            dt.date(2026, 7, 3), dt.date(2026, 9, 7), dt.date(2026, 11, 26),
            dt.date(2026, 12, 25)}
# US eastern daylight time for the March sessions used here (UTC-4)
ET_OFFSET_MS = 4 * 3600 * 1000


def is_session(d):
    return d.weekday() < 5 and d not in HOLIDAYS


def sessions_before(d, n):
    out, cur = [], d
    while len(out) < n:
        if is_session(cur):
            out.append(cur)
        cur -= dt.timedelta(days=1)
    return out[::-1]


def sessions_after(d, n):
    out, cur = [], d + dt.timedelta(days=1)
    while len(out) < n:
        if is_session(cur):
            out.append(cur)
        cur += dt.timedelta(days=1)
    return out


def epoch_ms(d, hh, mm):
    base = dt.datetime(d.year, d.month, d.day, hh, mm, tzinfo=dt.timezone.utc)
    return int(base.timestamp() * 1000) + ET_OFFSET_MS


def write(out_dir, name, cols, schema=None, partition=None):
    table = pa.table(cols, schema=schema) if schema else pa.table(cols)
    path = os.path.join(out_dir, name)
    if partition:
        pq.write_to_dataset(table, path, partition_cols=[partition])
    else:
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))


def write_file(out_dir, name, cols):
    # one <name>.parquet file: the layout graft.Tables.load reads
    pq.write_table(pa.table(cols), os.path.join(out_dir, name + ".parquet"))


def occ(ticker, expiry, is_call, strike):
    # OCC option symbol, as graft.functions.GraftFunctions.occTicker builds it
    return "O:%s%s%s%08d" % (ticker, expiry.strftime("%y%m%d"),
                            "C" if is_call else "P", int(round(strike * 1000)))


# ------------------------------------------------------------- overnight --

def gen_overnight(rng, out):
    D = SCAN_DATE
    entry_day, day2, day3 = sessions_after(D, 3)
    entry_ts = epoch_ms(entry_day, 15, 0)
    meta = dict(scan_date=str(D), entry_day=str(entry_day),
                entry_ts=entry_ts, timeout_ts=epoch_ms(day3, 15, 59),
                entry_day_end=epoch_ms(entry_day, 16, 0),
                hist_date=str(sessions_before(D, 4)[0]))

    T = N_TICKERS
    tickers = ["T%04d" % i for i in range(T)]
    # ticker kinds: 0 cold, 1 hot bull, 2 hot bear, 3 warm bull (score 4-5)
    h = HOT_SHARE
    kind = rng.choice(4, size=T, p=[1 - h, 0.4 * h, 0.2 * h, 0.4 * h])
    n_ind = N_INDUSTRIES
    industry = rng.integers(0, n_ind, size=T)
    # rescue industries: every warm bull there meets a >= 5-ticker cluster
    rescue_ind = set(range(0, n_ind, 10))
    for ind in sorted(rescue_ind):
        members = np.where(industry == ind)[0][:6]
        kind[members[:3]] = 1
        kind[members[3:6]] = 3
    price = np.round(rng.uniform(20, 400, size=T), 2)
    pct = np.where(kind == 0, rng.uniform(-4, 4, size=T),
                   np.where(kind == 2, -rng.uniform(2, 8, size=T),
                            rng.uniform(2, 8, size=T)))
    pct = np.round(pct, 3)
    in_universe = rng.random(T) > 0.05
    in_universe[kind != 0] = True
    day_c_null = (rng.random(T) < 0.05) & (kind == 0)

    write(out, "snapshots", {
        "ticker": tickers,
        "todaysChangePerc": pct,
        "day": [None if day_c_null[i] else
                {"o": float(price[i]), "h": float(price[i] * 1.02),
                 "l": float(price[i] * 0.98), "c": float(price[i]),
                 "v": int(rng.integers(100_000, 5_000_000))}
                for i in range(T)],
        "lastTrade": [{"p": float(price[i])} for i in range(T)],
        "prevDay": [{"c": float(round(price[i] / (1 + pct[i] / 100), 2))}
                    for i in range(T)],
    })
    write(out, "universe", {"value": [" %s " % t.lower() if i % 7 == 0 else t
                                      for i, t in enumerate(tickers)
                                      if in_universe[i]]})
    write(out, "metadata", {
        "ticker": tickers,
        "sector": ["S%d" % (ind % 8) for ind in industry],
        "industry": [None if (kind[i] == 0 and i % 11 == 0) else
                     "IND%02d" % industry[i] for i in range(T)]})

    # option chain: CONTRACTS_PER_SIDE per side across three expiries, plus
    # one star contract per side (the last, j == J - 1) that dominates the
    # contract score; arrays are (ticker, side, contract), side 0 = call
    expiries = [D + dt.timedelta(days=d) for d in (10, 24, 38)]
    J = CONTRACTS_PER_SIDE + 1
    shape = (T, 2, J)
    ii = np.broadcast_to(np.arange(T)[:, None, None], shape)
    call = np.broadcast_to(np.array([True, False])[None, :, None], shape)
    jj = np.broadcast_to(np.arange(J)[None, None, :], shape)
    k = kind[ii]
    px = price[ii]
    is_star = jj == J - 1
    hot_side = (((k == 1) | (k == 3)) & call) | ((k == 2) & ~call)
    exp_i = np.where(is_star, 1, jj % 3)
    step = 0.02 * (jj - 4)
    strike = np.round(np.where(is_star, px * np.where(call, 1.03, 0.97),
                               px * np.where(call, 1.0 + step, 1.0 - step)), 2)
    mid = rng.uniform(2, 9, shape)
    spread = rng.uniform(0.04, 0.30, shape)
    hot = hot_side & ((k == 1) | (k == 2))
    # warm: side vol/oi in (0.8, 2), 1 or 4 active strikes, new positioning
    # under $500K -> score 4 or 5
    warm = hot_side & (k == 3)
    vol = np.select([k == 0, hot, warm & (jj < 3) & (ii % 2 == 1), warm],
                    [rng.integers(0, 40, shape), rng.integers(800, 1500, shape),
                     rng.integers(150, 160, shape), rng.integers(80, 95, shape)],
                    rng.integers(5, 15, shape))
    oi = np.select([k == 0, hot, warm],
                   [rng.integers(50, 2000, shape), rng.integers(100, 350, shape),
                    rng.integers(60, 70, shape)], rng.integers(50, 400, shape))
    mid = np.where(warm, rng.uniform(6, 6.5, shape), mid)
    delta = rng.uniform(0.55, 0.9, shape)
    gamma = rng.uniform(0.005, 0.03, shape)
    star_warm = is_star & warm
    vol = np.where(star_warm, rng.integers(260, 280, shape),
                   np.where(is_star & hot_side, np.maximum(vol, 3200), vol))
    oi = np.where(star_warm, 150, oi)
    spread = np.where(is_star, 0.02, spread)
    delta = np.where(is_star, 0.35, delta)
    gamma = np.where(is_star, 0.08, gamma)
    bid = np.round(mid * (1 - spread / 2), 2)
    ask = np.round(mid * (1 + spread / 2), 2)
    bid = np.where(~is_star & (rng.random(shape) < 0.04), 0.0, bid)  # fails bid > 0
    syms = np.array([occ(tickers[a], expiries[e], c, s) for a, e, c, s in zip(
        ii.ravel(), exp_i.ravel(), call.ravel(), strike.ravel())], dtype=object)
    star = {(a, "call" if c else "put"): sym for a, c, sym, st in zip(
        ii.ravel(), call.ravel(), syms, is_star.ravel()) if st}
    flat = lambda a: np.ascontiguousarray(a).ravel()
    rows = {
        "underlying": np.array(tickers, dtype=object)[flat(ii)],
        "contract_symbol": syms,
        "option_type": np.where(flat(call), "call", "put").astype(object),
        "expiration_date": np.array(expiries, dtype="datetime64[D]")[flat(exp_i)],
        "strike": flat(strike),
        "last_price": pa.array(np.round(flat(mid), 2), mask=rng.random(T * 2 * J) < 0.3),
        "bid": flat(bid), "ask": flat(ask),
        "volume": pa.array(flat(vol).astype(np.int64),
                           mask=flat((k == 0) & (rng.random(shape) < 0.1))),
        "open_interest": flat(oi).astype(np.int64),
        "implied_volatility": np.round(rng.uniform(0.2, 0.9, T * 2 * J), 4),
        "delta": flat(np.where(call, delta, -delta)),
        "gamma": flat(gamma),
        "theta": -np.round(rng.uniform(0.01, 0.2, T * 2 * J), 4),
        "vega": np.round(rng.uniform(0.05, 0.3, T * 2 * J), 4),
        "underlying_price": flat(px).astype(float),
    }
    write(out, "chain", rows)

    # daily bars: DAILY_BARS sessions ending at the scan date
    days = sessions_before(D, DAILY_BARS)
    nd = len(days)
    rets = rng.normal(0.0005, 0.018, size=(T, nd))
    closes = price[:, None] / np.exp(np.cumsum(rets[:, ::-1], axis=1))[:, ::-1]
    closes = np.round(closes * np.exp(rets[:, -1:]) , 2)
    closes[:, -1] = price
    span = np.abs(rng.normal(0, 0.012, size=(T, nd))) + 0.004
    highs = np.round(closes * (1 + span), 2)
    lows = np.round(closes * (1 - span), 2)
    opens = np.round((highs + lows) / 2, 2)
    vols = rng.integers(200_000, 8_000_000, size=(T, nd)).astype(float)
    # a few tickers carry fewer than 20 bars (dropped by the technicals gate)
    keep = np.ones((T, nd), dtype=bool)
    keep[::97, : nd - 12] = False
    cold = np.where(kind == 0)[0]
    pool = np.union1d(np.where(kind != 0)[0],
                      rng.choice(cold, min(HIST_POOL_COLD, len(cold)), replace=False))
    keep[np.setdiff1d(np.arange(T), pool)] = False
    tix = np.repeat(np.array(tickers, dtype=object), nd)
    write(out, "daily_bars", {
        "ticker": tix[keep.ravel()],
        "date": np.tile(np.array(days, dtype="datetime64[D]"), T)[keep.ravel()],
        "open": opens.ravel()[keep.ravel()], "high": highs.ravel()[keep.ravel()],
        "low": lows.ravel()[keep.ravel()], "close": closes.ravel()[keep.ravel()],
        "volume": vols.ravel()[keep.ravel()]})

    # news: one row per non-cold ticker; some tickers get two (duplicate
    # signals, flagged rather than dropped by the execution stage)
    news = {k: [] for k in ("ticker", "scan_date", "catalyst_score",
                            "catalyst_type", "news_found", "sources_count",
                            "flow_intent", "flow_intent_reasoning",
                            "move_overdone", "reversal_probability",
                            "thesis", "summary")}
    hot = [i for i in range(T) if kind[i] != 0]
    for i in hot:
        copies = 2 if rng.random() < 0.08 else 1
        intent = "HEDGING" if rng.random() < 0.8 else "DIRECTIONAL"
        for _ in range(copies):
            news["ticker"].append(tickers[i])
            news["scan_date"].append(D)
            news["catalyst_score"].append(round(float(rng.uniform(0.1, 0.95)), 2))
            news["catalyst_type"].append("Earnings")
            news["news_found"].append(True)
            news["sources_count"].append(int(rng.integers(1, 6)))
            news["flow_intent"].append(intent)
            news["flow_intent_reasoning"].append("r")
            news["move_overdone"].append(bool(rng.random() < 0.1))
            news["reversal_probability"].append(round(float(rng.uniform(0.1, 0.6)), 3))
            news["thesis"].append("t")
            news["summary"].append("s")
    write(out, "news", news)

    # arena picks for the scan date
    picks = {k: [] for k in ("scan_date", "agent", "ticker", "direction", "conviction")}
    top = rng.permutation(np.array(hot))[:8]
    for a in range(N_AGENTS):
        for i in rng.permutation(top)[: int(rng.integers(2, 6))]:
            picks["scan_date"].append(D)
            picks["agent"].append("agent%d" % a)
            picks["ticker"].append(tickers[i])
            picks["direction"].append("BEARISH" if kind[i] == 2 else "BULLISH")
            picks["conviction"].append(int(rng.integers(1, 11)))
    write(out, "picks", picks)

    # macro series: SPY + ^VIX through the entry day
    mdays = sessions_before(entry_day, 30)
    write(out, "macro", {
        "symbol": ["SPY"] * len(mdays) + ["^VIX"] * len(mdays),
        "date": mdays + mdays,
        "close": list(np.round(500 + np.cumsum(rng.normal(0, 3, len(mdays))), 2)) +
                 list(np.round(18 + np.cumsum(rng.normal(0, 0.5, len(mdays))), 2))})

    # minute bars over the three sessions after the scan date, for the star
    # contract of each hot-side ticker and (as noise) of the other side
    sessions = [entry_day, day2, day3]
    t_all = np.array([epoch_ms(s, 9, 30) + m * MS_PER_MIN
                      for s in sessions for m in range(MINUTES_PER_SESSION)],
                     dtype=np.int64)
    n = len(t_all)
    entry_idx = int(np.searchsorted(t_all, entry_ts))
    paths = ["TARGET", "STOP", "TIMEOUT", "INVALID_LIQUIDITY"]
    mb = {k: [] for k in ("opt_ticker", "t", "o", "h", "l", "c", "v")}
    for i in hot:
        for side in ("call", "put"):
            traded = (kind[i] == 2) == (side == "put")
            if not traded and rng.random() < 0.5:
                continue
            c0 = float(rng.uniform(2, 9))
            walk = c0 * np.exp(np.cumsum(rng.normal(0, 0.002, n)))
            e = walk[entry_idx]
            # stay inside the bracket (stop 0.765e, target 1.428e) unless
            # the path below crosses it on purpose
            walk = np.clip(walk, e * 0.9, e * 1.2)
            hi = walk * 1.004
            lo = walk * 0.996
            v = rng.integers(1, 400, n)
            path = paths[int(rng.integers(0, 4))] if traded else "TIMEOUT"
            ce = e * 1.02
            k = entry_idx + int(rng.integers(5, n - entry_idx - 10))
            if path == "TARGET":
                hi[k] = ce * 1.45
            elif path == "STOP":
                lo[k] = ce * 0.70
            elif path == "INVALID_LIQUIDITY":
                v[entry_idx] = 0
            mb["opt_ticker"].append(np.full(n, star[(i, side)], dtype=object))
            mb["t"].append(t_all)
            mb["o"].append(np.round(walk, 4))
            mb["h"].append(np.round(hi, 4))
            mb["l"].append(np.round(lo, 4))
            mb["c"].append(np.round(walk, 4))
            mb["v"].append(v.astype(np.int64))
    write(out, "minute_bars", {k: np.concatenate(v) for k, v in mb.items()})

    # tracking table seeded with earlier nights; performance columns empty
    hist_days = sessions_before(D, HIST_NIGHTS + 1)[:-1]
    perf_f = ["next_day_close", "next_day_pct", "day2_close", "day2_pct",
              "day3_close", "day3_pct", "peak_return_3d"]
    day_index = {d: j for j, d in enumerate(days)}
    cols = {k: [] for k in ("ticker", "direction", "signal_price",
                            "overnight_score", "scan_date")}
    for hd in hist_days:
        for i in rng.choice(pool, HIST_ROWS_PER_NIGHT, replace=False):
            cols["ticker"].append(tickers[i])
            cols["direction"].append("BULLISH" if rng.random() < 0.6 else "BEARISH")
            cols["signal_price"].append(float(closes[i, day_index[hd]]))
            cols["overnight_score"].append(int(rng.integers(6, 11)))
            cols["scan_date"].append(str(hd))
    nrow = len(cols["ticker"])
    schema = pa.schema([("ticker", pa.string()), ("direction", pa.string()),
                        ("signal_price", pa.float64()),
                        ("overnight_score", pa.int32())] +
                       [(f, pa.float64()) for f in perf_f] +
                       [("outcome_tier", pa.string()), ("is_win", pa.bool_()),
                        ("scan_date", pa.string())])
    data = dict(cols)
    for f in perf_f:
        data[f] = [None] * nrow
    data["outcome_tier"] = [None] * nrow
    data["is_win"] = [None] * nrow
    write(out, "tracking", data, schema=schema, partition="scan_date")
    return meta


# -------------------------------------------------------------- research --

def gen_research(rng, out):
    D = SCAN_DATE
    days = sessions_before(D, 120)
    n_bars = RESEARCH_SESSIONS * MINUTES_PER_SESSION
    trades = {k: [] for k in ("trade_id", "entry_ts", "timeout_ts",
                              "entry_date", "direction", "tier")}
    bars = {k: [] for k in ("trade_id", "t", "o", "h", "l", "c")}
    for tid in range(N_TRADES):
        d = days[int(rng.integers(0, len(days)))]
        t0 = epoch_ms(d, 9, 30)
        t = t0 + np.arange(n_bars, dtype=np.int64) * MS_PER_MIN
        entry_ts = int(t[int(rng.integers(0, 30))]) + (MS_PER_MIN // 2 if tid % 5 == 0 else 0)
        if tid % 97 == 0:
            entry_ts = int(t[-1]) + MS_PER_MIN  # never entered: no bar after entry
        # timeout minute: inside the bars (timeout exit) or past them (eod)
        timeout_ts = t0 + int(rng.integers(n_bars - 120, n_bars + 30)) * MS_PER_MIN
        c0 = float(rng.uniform(1, 12))
        vol = float(rng.uniform(0.002, 0.012))
        walk = c0 * np.exp(np.cumsum(rng.normal(0, vol, n_bars)))
        trades["trade_id"].append(tid)
        trades["entry_ts"].append(entry_ts)
        trades["timeout_ts"].append(timeout_ts)
        trades["entry_date"].append(d)
        trades["direction"].append("BULLISH" if rng.random() < 0.6 else "BEARISH")
        trades["tier"].append(["home_run", "strong", "directional"][int(rng.integers(0, 3))])
        bars["trade_id"].append(np.full(n_bars, tid, dtype=np.int64))
        bars["t"].append(t)
        bars["o"].append(np.round(walk, 4))
        bars["h"].append(np.round(walk * (1 + np.abs(rng.normal(0, vol, n_bars))), 4))
        bars["l"].append(np.round(walk * (1 - np.abs(rng.normal(0, vol, n_bars))), 4))
        bars["c"].append(np.round(walk, 4))
    write(out, "trades", trades)
    write(out, "bars", {k: np.concatenate(v) for k, v in bars.items()})
    targets = [1.2, 1.3, 1.4, 1.6]
    stops = [0.7, 0.8, 0.9]
    write(out, "configs", {
        "cfg": pa.array(range(N_CONFIGS), pa.int32()),
        "target_mult": [targets[c % 4] for c in range(N_CONFIGS)],
        "stop_mult": [stops[c // 4] for c in range(N_CONFIGS)]})
    return dict(n_trades=N_TRADES, n_bars=N_TRADES * n_bars, n_configs=N_CONFIGS)


# --------------------------------------------------------------- catalog --

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small customer query "
         "stream group filter big vector").split()


def gen_catalog(rng, out):
    n = CATALOG_ROWS
    ts = lambda a: pa.array(a, type=pa.timestamp("us"))
    write_file(out, "region", {"r_regionkey": pa.array(range(5), pa.int32()),
                          "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                     "MIDDLE EAST"]})
    write_file(out, "nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                          "n_name": ["NATION_%d" % i for i in range(25)],
                          "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    write_file(out, "customer", {
        "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
        "c_name": ["Customer#%09d" % i for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n["customer"])})
    write_file(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
        "s_name": ["Supplier#%09d" % i for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)})
    adj = ["small", "red", "blue", "hot", "old", "large", "green", "cold"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "nut"]
    write_file(out, "part", {
        "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
        "p_name": ["%s %s" % (adj[a], noun[b]) for a, b in
                   zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) * 0.1, 2)})
    d0 = np.datetime64("1995-01-01T00:00:00", "us")
    day_us = np.timedelta64(86_400_000_000, "us")
    write_file(out, "orders", {
        "o_orderkey": pa.array(np.arange(n["orders"]), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n["customer"], n["orders"]), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
        "o_totalprice": np.round(rng.uniform(1000, 500000, n["orders"]), 2),
        "o_orderdate": ts(d0 + rng.integers(0, 2400, n["orders"]) * day_us),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n["orders"])})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(float)
    write_file(out, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n["orders"], nl), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": ts(d0 + rng.integers(1, 2500, nl) * day_us)})
    ne = n["events"]
    gaps = rng.integers(1_000_000, 518_000_000, ne)  # about 30 days in total
    write_file(out, "events", {
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": ts(np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")),
        "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(np.maximum(rng.exponential(50, ne), 0.01), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, ne)]})
    nd = n["documents"]
    texts = [" ".join(rng.choice(WORDS, int(rng.integers(10, 100))))
             for _ in range(nd)]
    write_file(out, "documents", {
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": texts,
        "lang": rng.choice(["en", "de", "es", "fr", "zh"], nd,
                           p=[0.44, 0.14, 0.14, 0.14, 0.14]),
        "source": ["src%d" % s for s in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    nv = n["embeddings"]
    vecs = rng.normal(0, 1, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    write_file(out, "embeddings", {
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), pa.int32())})
    return dict(rows=n)


def gen_analytics(rng, out):
    """The backtest's inputs under research/ and the catalog tables under
    catalog/, each part with its own _inputs.json."""
    meta = {}
    for part, fn in (("research", gen_research), ("catalog", gen_catalog)):
        d = os.path.join(out, part)
        os.makedirs(d)
        meta[part] = fn(rng, d)
        with open(os.path.join(d, "_inputs.json"), "w") as f:
            json.dump(meta[part], f)
    return meta


GENERATORS = {"overnight": gen_overnight, "analytics": gen_analytics}


def generate(workload, seed, out_dir):
    """Write the workload's inputs under out_dir (idempotent per seed)."""
    done = os.path.join(out_dir, "_inputs.json")
    if os.path.exists(done):
        return json.load(open(done))
    tmp = out_dir + ".tmp"
    if os.path.exists(tmp):
        import shutil
        shutil.rmtree(tmp)
    os.makedirs(tmp)
    rng = np.random.Generator(np.random.PCG64(seed))
    meta = GENERATORS[workload](rng, tmp)
    meta.update(workload=workload, seed=seed)
    with open(os.path.join(tmp, "_inputs.json"), "w") as f:
        json.dump(meta, f)
    os.replace(tmp, out_dir)
    return meta


if __name__ == "__main__":
    print(json.dumps(generate(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
