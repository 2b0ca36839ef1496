"""Seeded inputs of the daily_load workload, and what the program must make of them.

The generator lands one payload file per trading day, source and symbol,
in the connectors' own grammar: a header line, then comma-separated rows,
an empty cell meaning NULL. Alpha Vantage lands its "compact" window (the
last 100 trading days) and Yahoo its "1mo" window, about 120 rows per
symbol and day. Payloads carry NULL opens/highs/lows/volumes, duplicate
rows (identical, so whichever copy the dedup keeps is the same row) and
closes restated on a later day.

The configured symbols are 2 of the reference's 10. On 4 cores one daily
run takes about 5 s at 2 symbols and 9 s at 4, ~1.8 s more per symbol
(every quality-gate job reads each landed file again), and the
benchmark's time budget holds 22 runs of two workloads.

The days are one bootstrap day, then a backfill of trading days that
crosses a month boundary on purpose. Every cell is a pure function of
(seed, symbol, source, bar date, landing day), so the expectations below
are derived without Spark.
"""
import datetime as dt
import json
import math
import os
import random
from decimal import ROUND_HALF_UP, Decimal

SYMBOLS = ["AAPL", "MSFT"]
SOURCES = {"alphavantage": "alpha_vantage", "yahoofinance": "yahoo_finance"}
AV_COMPACT_DAYS = 100
PASS_DAYS_BEFORE = 1  # trading days of the pass before the month boundary
PASS_DAYS_AFTER = 1
FRESHNESS_HOURS = 48

AV_HEADER = "date,1. open,2. high,3. low,4. close,5. volume"
YAHOO_HEADER = "Date,Open,High,Low,Close,Volume,Dividends,Stock Splits"


def trading_days(start, end):
    """Weekdays in [start, end]."""
    d, out = start, []
    while d <= end:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def plan(seed):
    """(bootstrap day, pass days): the pass straddles the first of a month."""
    rng = random.Random(f"plan|{seed}")
    first = dt.date(2022 + rng.randrange(3), 1 + rng.randrange(12), 1)
    before = trading_days(first - dt.timedelta(days=10), first - dt.timedelta(days=1))
    after = trading_days(first, first + dt.timedelta(days=10))
    days = before[-PASS_DAYS_BEFORE - 1:] + after[:PASS_DAYS_AFTER]
    return days[0], days[1:]


def _history(seed, symbol, last_day):
    """Base OHLCV bars of one symbol for every trading day up to last_day."""
    days = trading_days(last_day - dt.timedelta(days=220), last_day)
    rng = random.Random(f"walk|{seed}|{symbol}")
    close = rng.uniform(20, 500)
    bars = {}
    for d in days:
        open_ = close * (1 + rng.gauss(0, 0.005))
        close = max(1.0, close * (1 + rng.gauss(0, 0.02)))
        high = max(open_, close) * (1 + rng.random() * 0.01)
        low = min(open_, close) * (1 - rng.random() * 0.01)
        bars[d] = (round(open_, 2), round(high, 2), round(low, 2), round(close, 2),
                   int(rng.lognormvariate(15, 0.5)))
    return bars


def _landed(seed, symbol, source, bar_day, landing_day, base):
    """The row a payload landed on landing_day carries for bar_day:
    (open, high, low, close, volume, copies), None meaning NULL."""
    rng = random.Random(f"cell|{seed}|{symbol}|{source}|{bar_day}|{landing_day}")
    o, h, l, c, v = base
    if bar_day < landing_day and rng.random() < 0.05:  # restated close
        c = round(c * (1 + rng.uniform(-0.01, 0.01)), 2)
        h, l = max(h, c), min(l, c)
    if rng.random() < 0.01:
        o = h = l = None
    if rng.random() < 0.03:
        v = None
    copies = 2 if rng.random() < 0.02 else 1
    return o, h, l, c, v, copies


def payload_rows(seed, symbol, source, landing_day, history):
    """Bar dates and landed rows of one payload, newest first."""
    days = sorted((d for d in history if d <= landing_day), reverse=True)
    if source == "alphavantage":
        window = days[:AV_COMPACT_DAYS]
    else:
        month_ago = landing_day - dt.timedelta(days=30)
        window = [d for d in days if d > month_ago]
    return [(d, _landed(seed, symbol, source, d, landing_day, history[d])) for d in window]


def _cell(x):
    return "" if x is None else (f"{x:.2f}" if isinstance(x, float) else str(x))


def write(landing, seed):
    """Lands every payload of the run under `landing`. Returns the days."""
    bootstrap, days = plan(seed)
    histories = {s: _history(seed, s, days[-1]) for s in SYMBOLS}
    os.makedirs(landing, exist_ok=True)
    config = {
        "stock_etl_config": {"stock_symbols": SYMBOLS, "backfill_days": len(days),
                             "data_freshness_threshold_hours": FRESHNESS_HOURS},
        "etl_monitoring": {"enable_alerts": False, "error_threshold": 0,
                           "data_volume_threshold_mb": 10.0, "quality_score_threshold": 0.95},
        "environment": "benchmark",
    }
    with open(os.path.join(landing, "variables.json"), "w") as f:
        json.dump(config, f)
    with open(os.path.join(landing, "days.txt"), "w") as f:
        f.write("".join(f"{d.isoformat()}\n" for d in [bootstrap] + days))
    for day in [bootstrap] + days:
        for source in SOURCES:
            out = os.path.join(landing, day.isoformat(), source)
            os.makedirs(out, exist_ok=True)
            for s in SYMBOLS:
                lines = [AV_HEADER if source == "alphavantage" else YAHOO_HEADER]
                for d, (o, h, l, c, v, copies) in payload_rows(seed, s, source, day, histories[s]):
                    if source == "alphavantage":
                        line = ",".join([d.isoformat()] + [_cell(x) for x in (o, h, l, c, v)])
                    else:
                        dividend = 0.24 if d.day == 15 else 0.0
                        line = ",".join([f"{d.isoformat()} 00:00:00"] +
                                        [_cell(x) for x in (o, h, l, c, v, dividend, 0.0)])
                    lines.extend([line] * copies)
                with open(os.path.join(out, f"{s}.csv"), "w") as f:
                    f.write("\n".join(lines) + "\n")
    return [bootstrap] + days


def spark_round2(x):
    """Spark's round(double, 2): HALF_UP on the double's decimal string."""
    if x is None or math.isnan(x) or math.isinf(x):
        return x
    return float(Decimal(repr(x)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))


def _pct(num, open_):
    if num is None or open_ is None or open_ == 0:
        return None
    return spark_round2(num / open_ * 100)


def expected_table(seed, upto):
    """The main table after the runs of days[0..upto] (bootstrap included):
    one row per landed (date, symbol, data_source), the latest landing
    wins, run timestamps left out."""
    bootstrap, days = plan(seed)
    runs = ([bootstrap] + days)[:upto + 1]
    table = {}
    for s in SYMBOLS:
        history = _history(seed, s, days[-1])
        for day in runs:
            for source, name in SOURCES.items():
                for d, (o, h, l, c, v, _) in payload_rows(seed, s, source, day, history):
                    table[(d.isoformat(), s, name)] = {
                        "open": o, "high": h, "low": l, "close": c,
                        "volume": 0 if v is None else v,
                        "daily_change_pct": _pct(None if o is None else c - o, o),
                        "daily_volatility": _pct(None if h is None else h - l, o),
                    }
    return table


def expected_view(table, day):
    """stock_daily_metrics rows for the 7 days ending `day`."""
    lo = (dt.date.fromisoformat(day) - dt.timedelta(days=6)).isoformat()
    groups = {}
    for (d, s, src), row in table.items():
        if lo <= d <= day:
            groups.setdefault((d, s), []).append((src, row))
    out = {}
    for key, rows in groups.items():
        vols = [Decimal(repr(r["daily_volatility"])) for _, r in rows
                if r["daily_volatility"] is not None]
        out[key] = {
            "close_price": min(r["close"] for _, r in rows),
            "avg_volatility": float(sum(vols)) / len(vols) if vols else None,
            "source_count": len({src for src, _ in rows}),
        }
    return out
