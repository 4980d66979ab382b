"""Seeded raw-zone generator for the `medallion` workload.

Lays out one staged delivery per pipeline batch, in the raw-zone shape the
pipeline reads (`PipelineSpec`, FIXTURES.md):

    staging/batch<k>/companies_house/ingestion_date=<date>/<NUM>/overview.json
                                                          /officers.json
                                                          /filing-history.json
    staging/batch<k>/yfinance/{company_details,fundamentals_data,trading_data}/part-<k>.csv

Batch 1 is the initial load: every company, 30 trading days, 4 quarters of
fundamentals. Batch 2 is the incremental delivery: a new ingestion date
re-delivering ~10% of the companies, changed tracked columns for ~10% of the
YFinance keys, a few unchanged re-deliveries, new keys, one new quarter and 5
new trading days. Both batches carry bad rows at known counts:
null business keys, negative numerics, malformed CSV lines (unparseable or
missing date key) and future `date_of_creation` companies.

The generator simulates what the pipeline must make of it and writes the
expected outcomes to `expected.json`: rows per bronze table, rows dropped per
DQ rule, SCD2 rows opened / closed / unchanged per table and batch, current
rows per key, and gold row counts.
"""
import datetime as dt
import json
import os

import numpy as np

SCD_TABLES = ("company_details", "fundamentals_data", "trading_data")
HEADERS = {
    "company_details": "company_name,company_number,ticker,symbol,short_name,long_name,"
                       "industry,sector,country,exchange,market_cap,website,ingestion_date",
    "fundamentals_data": "company_name,company_number,ticker,quarter_end_date,total_revenue,"
                         "gross_profit,operating_income,net_income,ebitda,total_assets,"
                         "total_liabilities,cash,long_term_debt,operating_cash_flow,"
                         "capital_expenditure,free_cash_flow,ingestion_date",
    "trading_data": "company_number,ticker,date,open,high,low,close,adj_close,volume,"
                    "ingestion_date",
}
STATUSES = ["active", "ACTIVE", "Active", "dissolved", "liquidation"]
INDUSTRIES = ["Software", "Banking", "Retail", "Mining", "Utilities", "Pharma"]
SECTORS = ["Tech", "Fin", "Consumer", "Materials", "Energy", "Health"]
ROLES = ["director", "secretary", "member", "chair"]
FILING_TYPES = [("AA", "accounts"), ("CS01", "confirmation-statement"),
                ("AP01", "officers"), ("SH01", "capital")]
TRADING_DAYS = 30   # trading days delivered by batch 1
QUARTERS = 4        # fundamentals quarters delivered by batch 1
NEW_DAYS = 5        # trading days added by batch 2


def _d(day):
    return day.isoformat()


class Raw:
    """Raw-zone generator; all randomness comes from one seeded stream."""

    def __init__(self, out, seed, companies):
        self.out = out
        self.rng = np.random.default_rng(seed)
        self.n0 = companies
        self.bad = max(2, companies // 200)  # bad rows per rule, per table, per batch
        self.next_company = 1
        self.next_fake = 1
        self.companies = []          # valid company numbers delivered so far
        self.creation = {}           # company -> date_of_creation (ISO)
        self.future = set()          # companies with a future date_of_creation
        self.ch_files = {"overview": 0, "officers": 0, "filing_history": 0}
        # SCD state: table -> {key: tracked-value tuple of the current row}
        self.current = {t: {} for t in SCD_TABLES}
        self.payload = {t: {} for t in SCD_TABLES}  # key -> full row values
        self.last_day = None
        self.raw_rows = 0
        self.raw_bytes = 0

    # -- helpers ---------------------------------------------------------
    def _num(self):
        n = self.next_company
        self.next_company += 1
        return f"{n:08d}"

    def _fake(self):
        n = self.next_fake
        self.next_fake += 1
        return f"X{n:07d}"

    def _write(self, path, text):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)
        self.raw_bytes += len(text.encode())

    def _money(self, lo, hi):
        return round(float(self.rng.uniform(lo, hi)), 2)

    # -- Companies House ---------------------------------------------------
    def _company_files(self, root, num, status_shift):
        rng = self.rng
        over = {
            "company_name": f"  Company {num} Ltd  " if rng.random() < 0.2 else f"Company {num} Ltd",
            "company_number": num,
            "company_status": STATUSES[(int(num) + status_shift) % len(STATUSES)],
            "date_of_creation": self.creation[num],
            "jurisdiction": "england-wales",
            "type": "ltd",
            "etag": f"e-{num}-{status_shift}",
            "has_charges": bool(rng.random() < 0.3),
            "has_insolvency_history": bool(rng.random() < 0.05),
        }
        officers = [{"name": f"Officer {num}-{i}", "officer_role": ROLES[int(rng.integers(0, 4))],
                     "appointed_on": _d(dt.date(2000, 1, 1) + dt.timedelta(days=int(rng.integers(0, 9000)))),
                     "nationality": "British" if rng.random() < 0.7 else "Irish"}
                    for i in range(int(rng.integers(0, 6)))]
        filings = []
        for i in range(int(rng.integers(0, 5))):
            t, cat = FILING_TYPES[int(rng.integers(0, 4))]
            filings.append({"date": _d(dt.date(2015, 1, 1) + dt.timedelta(days=int(rng.integers(0, 4000)))),
                            "type": t, "description": f"{cat} {i}", "category": cat})
        d = os.path.join(root, num)
        self._write(os.path.join(d, "overview.json"), json.dumps(over, indent=2))
        self._write(os.path.join(d, "officers.json"), json.dumps({"items": officers}, indent=2))
        self._write(os.path.join(d, "filing-history.json"), json.dumps({"items": filings}, indent=2))
        self.ch_files["overview"] += 1
        self.ch_files["officers"] += len(officers)
        self.ch_files["filing_history"] += len(filings)
        self.raw_rows += 1 + len(officers) + len(filings)

    def _new_companies(self, n):
        fresh = []
        for _ in range(n):
            num = self._num()
            if self.rng.random() < 0.02:
                self.creation[num] = _d(dt.date(2100, 1, 1) + dt.timedelta(days=int(self.rng.integers(0, 365))))
                self.future.add(num)
            else:
                self.creation[num] = _d(dt.date(1990, 1, 1) + dt.timedelta(days=int(self.rng.integers(0, 12000))))
            fresh.append(num)
        self.companies.extend(fresh)
        return fresh

    # -- YFinance ------------------------------------------------------------
    def _tracked(self, table, row):
        if table == "company_details":
            return (row[10], row[6], row[7])          # market_cap, industry, sector
        if table == "fundamentals_data":
            return (row[4], row[8], row[7])           # total_revenue, ebitda, net_income
        return tuple(row[3:9])                        # open..volume

    def _details_row(self, num, ing):
        i = int(self.rng.integers(0, len(INDUSTRIES)))
        return [f"Company {num} Ltd", num, f"T{num[-5:]}", f"T{num[-5:]}.L", f"Co{num}",
                f"Company {num} Limited", INDUSTRIES[i], SECTORS[i], "UK", "LSE",
                int(self.rng.integers(1_000_000, 50_000_000_000)), f"https://c{num}.example", ing]

    def _fund_row(self, num, quarter, ing):
        m = self._money
        rev = m(1_000, 5_000_000)
        return [f"Company {num} Ltd", num, f"T{num[-5:]}", quarter, rev, m(0, rev), m(0, rev / 2),
                m(0, rev / 3), m(0, rev / 2), m(1_000, 9_000_000), m(0, 5_000_000), m(0, 1_000_000),
                m(0, 2_000_000), m(0, 1_000_000), m(0, 500_000), m(0, 500_000), ing]

    def _trade_row(self, num, day, ing):
        o = self._money(1, 500)
        lo, hi = round(o * 0.97, 2), round(o * 1.03, 2)
        c = self._money(lo, hi)
        return [num, f"T{num[-5:]}", day, o, hi, lo, c, c, int(self.rng.integers(100, 1_000_000)), ing]

    def _changed(self, table, row):
        row = list(row)
        if table == "company_details":
            row[10] = row[10] + 1_000 + int(self.rng.integers(0, 1_000_000))
        elif table == "fundamentals_data":
            row[4] = round(row[4] + 1.0 + self._money(0, 10_000), 2)
        else:
            row[7] = round(row[7] + 0.01 + self._money(0, 5), 2)   # adj_close
        return row

    def _bad_rows(self, table, ing, day):
        """Rows the silver DQ gates must drop, by rule."""
        b, rows, dropped = self.bad, [], {}
        if table == "company_details":
            for _ in range(b):
                r = self._details_row(self._fake(), ing)
                r[1] = ""                                   # null business key
                rows.append(r)
            for _ in range(b):
                r = self._details_row(self._fake(), ing)
                r[10] = -r[10]                              # negative market_cap
                rows.append(r)
            dropped = {"null_key": b, "negative_numeric": b, "malformed": 0}
            return rows, [], dropped
        make = (lambda n: self._fund_row(n, day, ing)) if table == "fundamentals_data" \
            else (lambda n: self._trade_row(n, day, ing))
        date_col = 3 if table == "fundamentals_data" else 2
        for _ in range(b):
            r = make(self._fake())
            r[1 if table == "fundamentals_data" else 0] = ""
            rows.append(r)
        for _ in range(b):
            r = make(self._fake())
            r[date_col + 1] = -r[date_col + 1]
            rows.append(r)
        lines = []
        for i in range(b):
            r = make(self._fake())
            if i % 2 == 0:
                r[date_col] = "n/a"                          # unparseable date key
                rows.append(r)
            else:                                            # truncated line
                lines.append(",".join(str(v) for v in r[:date_col]))
        dropped = {"null_key": b, "negative_numeric": b, "malformed": b}
        return rows, lines, dropped

    def _csv(self, table, batch, rows, extra_lines):
        body = [HEADERS[table]] + [",".join(str(v) for v in r) for r in rows] + extra_lines
        order = self.rng.permutation(len(body) - 1) + 1
        text = "\n".join([body[0]] + [body[i] for i in order]) + "\n"
        self._write(os.path.join(self.out, "staging", f"batch{batch}", "yfinance", table,
                                 f"part-{batch}.csv"), text)
        self.raw_rows += len(body) - 1

    def _scd_batch(self, table, valid, changed_keys, unchanged_keys):
        """Apply one delivery to the simulated SCD2 state; returns counts."""
        cur = self.current[table]
        opened = closed = unchanged = 0
        for key, row in valid.items():
            tracked = self._tracked(table, row)
            if key not in cur:
                opened += 1
            elif cur[key] != tracked:
                opened += 1
                closed += 1
            else:
                unchanged += 1
            cur[key] = tracked
            self.payload[table][key] = row
        assert closed == len(changed_keys) and unchanged == len(unchanged_keys)
        return {"opened": opened, "closed": closed, "unchanged": unchanged,
                "source_rows": len(valid)}

    # -- batches ---------------------------------------------------------
    def batch(self, k):
        rng = self.rng
        ingest = dt.date(2026, 1, 1) + dt.timedelta(days=7 * (k - 1))
        ing = _d(ingest)
        ch_root = os.path.join(self.out, "staging", f"batch{k}", "companies_house",
                               f"ingestion_date={ing}")
        if k == 1:
            fresh = self._new_companies(self.n0)
            redeliver = []
        else:
            redeliver = [c for c in self.companies if rng.random() < 0.10]
            fresh = self._new_companies(max(1, self.n0 // 50))
        for num in redeliver:
            self._company_files(ch_root, num, status_shift=k)
        for num in fresh:
            self._company_files(ch_root, num, status_shift=0)

        out = {"batch": k, "clock": _d(ingest + dt.timedelta(days=1)), "tables": {}}
        # trading days delivered in this batch
        if k == 1:
            first = ingest - dt.timedelta(days=TRADING_DAYS)
            days = [_d(first + dt.timedelta(days=i)) for i in range(TRADING_DAYS)]
        else:
            days = [_d(self.last_day + dt.timedelta(days=i + 1)) for i in range(NEW_DAYS)]
        self.last_day = dt.date.fromisoformat(days[-1])
        quarter = _d(dt.date(2025, 3, 31) + dt.timedelta(days=91 * (QUARTERS + k - 2)))

        for table in SCD_TABLES:
            valid = {}
            existing = list(self.payload[table].keys())
            changed_keys, unchanged_keys = [], []
            if k > 1:
                pick = rng.random(len(existing))
                changed_keys = [existing[i] for i in np.flatnonzero(pick < 0.10)]
                unchanged_keys = [existing[i] for i in np.flatnonzero((pick >= 0.10) & (pick < 0.12))]
                for key in changed_keys:
                    valid[key] = self._changed(table, self.payload[table][key])
                for key in unchanged_keys:
                    row = list(self.payload[table][key])
                    if table == "company_details":
                        row[11] = row[11] + "/v2"             # untracked column only
                    valid[key] = row
            targets = fresh if k > 1 else self.companies
            if table == "company_details":
                for num in targets:
                    valid[num] = self._details_row(num, ing)
            elif table == "fundamentals_data":
                quarters = ([_d(dt.date(2025, 3, 31) + dt.timedelta(days=91 * q))
                             for q in range(QUARTERS)] if k == 1 else [quarter])
                owners = self.companies if k > 1 else targets
                for num in owners:
                    for q in quarters:
                        if (num, q) not in valid and (num, q) not in self.payload[table]:
                            valid[(num, q)] = self._fund_row(num, q, ing)
            else:
                for num in self.companies:
                    for day in days:
                        valid[(num, day)] = self._trade_row(num, day, ing)
            bad, bad_lines, dropped = self._bad_rows(table, ing, days[-1] if table == "trading_data" else quarter)
            self._csv(table, k, list(valid.values()) + bad, bad_lines)
            scd = self._scd_batch(table, valid, changed_keys, unchanged_keys)
            out["tables"][table] = {
                "bronze_rows": len(valid) + len(bad) + len(bad_lines),
                "dq_dropped": dropped,
                "scd": scd,
            }
        out["bronze_ch"] = dict(self.ch_files)
        out["company_master_rows"] = len(self.companies) - len(self.future)
        out["future_dated_companies"] = len(self.future)
        return out


def generate(out, seed, companies):
    """Writes batches 1 (initial) and 2 (incremental) and their expected outcomes."""
    raw = Raw(out, seed, companies)
    batches = [raw.batch(1), raw.batch(2)]
    final = {
        "current_rows": {t: len(raw.current[t]) for t in SCD_TABLES},
        "silver_rows": {t: sum(b["tables"][t]["scd"]["opened"] for b in batches) for t in SCD_TABLES},
        "gold_rows": {
            "company_master": batches[-1]["company_master_rows"],
            "dim_company_details": len(raw.current["company_details"]),
            "fact_trading": len(raw.current["trading_data"]),
            "fact_fundamentals": len(raw.current["fundamentals_data"]),
        },
    }
    expected = {"batches": batches, "final": final,
                "raw_rows": raw.raw_rows, "raw_bytes": raw.raw_bytes}
    with open(os.path.join(out, "expected.json"), "w") as f:
        json.dump(expected, f, indent=1)
    return expected

