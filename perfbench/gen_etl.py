"""Seeded ETL inputs for the etl_* workloads, with a known-answer model.

The inputs follow the reference shapes (FIXTURES.md A1-A5):

- BCB/SGS payloads: one JSON array per series of daily
  {"data": "dd/MM/yyyy", "valor": "11,75"} observations, with pt-BR
  values (some with a thousands dot), unparseable dates and duplicate
  dates;
- the series control table, with mixed-case enabled flags and one
  disabled series;
- the 27-UF IBGE payload (nested `regiao`);
- an ANP drop directory with one semicolon CSV per month (accented
  headers), holding bad dates, bad prices, prices <= 0, duplicate rows
  and mixed pt-BR / en prices.

`EtlState` holds the base period; `add_month` adds one more month (one
more ANP file, every BCB payload one month longer), `write` renders the
input files and `model` returns the known answer the benchmark checks
every Pipeline.run against: rows kept and dropped per silver rule,
silver and gold row counts, gold checksums, high-water marks and the
summary text with the exact values behind it.
"""
import calendar
import datetime as dt
import json
import os
from fractions import Fraction

import numpy as np

UFS = [  # (id, sigla, nome, regiao)
    (11, "RO", "Rondônia", "Norte"), (12, "AC", "Acre", "Norte"),
    (13, "AM", "Amazonas", "Norte"), (14, "RR", "Roraima", "Norte"),
    (15, "PA", "Pará", "Norte"), (16, "AP", "Amapá", "Norte"),
    (17, "TO", "Tocantins", "Norte"), (21, "MA", "Maranhão", "Nordeste"),
    (22, "PI", "Piauí", "Nordeste"), (23, "CE", "Ceará", "Nordeste"),
    (24, "RN", "Rio Grande do Norte", "Nordeste"),
    (25, "PB", "Paraíba", "Nordeste"), (26, "PE", "Pernambuco", "Nordeste"),
    (27, "AL", "Alagoas", "Nordeste"), (28, "SE", "Sergipe", "Nordeste"),
    (29, "BA", "Bahia", "Nordeste"), (31, "MG", "Minas Gerais", "Sudeste"),
    (32, "ES", "Espírito Santo", "Sudeste"),
    (33, "RJ", "Rio de Janeiro", "Sudeste"), (35, "SP", "São Paulo", "Sudeste"),
    (41, "PR", "Paraná", "Sul"), (42, "SC", "Santa Catarina", "Sul"),
    (43, "RS", "Rio Grande do Sul", "Sul"),
    (50, "MS", "Mato Grosso do Sul", "Centro-Oeste"),
    (51, "MT", "Mato Grosso", "Centro-Oeste"),
    (52, "GO", "Goiás", "Centro-Oeste"), (53, "DF", "Distrito Federal", "Centro-Oeste"),
]
REGION_SIGLA = {"Norte": "N", "Nordeste": "NE", "Sudeste": "SE", "Sul": "S",
                "Centro-Oeste": "CO"}
PRODUCTS = ["GASOLINA", "GASOLINA ADITIVADA", "ETANOL", "DIESEL", "DIESEL S10", "GNV"]
ANP_HEADER = ("Região - Sigla;Estado - Sigla;Município;Produto;Data da Coleta;"
              "Valor de Venda;Valor de Compra;Unidade de Medida")
TARGET_SERIES = (11, "selic_sgs_11")
START = dt.date(2024, 1, 1)


def _month_start(i):
    y, m = divmod(START.month - 1 + i, 12)
    return dt.date(START.year + y, m + 1, 1)


def _month_end(i):
    s = _month_start(i)
    return s.replace(day=calendar.monthrange(s.year, s.month)[1])


def _pt_br(cents):
    """pt-BR decimal string of an integer cent amount, thousands dot above 999."""
    sign = "-" if cents < 0 else ""
    whole, frac = divmod(abs(int(cents)), 100)
    w = f"{whole:,}".replace(",", ".")
    return f"{sign}{w},{frac:02d}"


def _en(cents):
    sign = "-" if cents < 0 else ""
    whole, frac = divmod(abs(int(cents)), 100)
    return f"{sign}{whole}.{frac:02d}"


def _series(n_series):
    """Series control rows (id, name, enabled flag); the last one is disabled."""
    rows = [(TARGET_SERIES[0], TARGET_SERIES[1], "true")]
    flags = ["TRUE", "1", "yes", "True", "YES"]
    for k in range(1, n_series):
        sid = 400 + 7 * k
        rows.append((sid, f"serie_sgs_{sid}", flags[k % len(flags)]))
    rows.append((9999, "serie_sgs_9999", "no"))
    return rows


def _rng(seed, stream):
    return np.random.default_rng([int(seed), stream])


def _bcb_obs(seed, series_rows, month):
    """Observations of one month for every enabled series:
    {sid: [(date_str, value_str, date | None, cents | None)]}.
    Values are cents; unparseable dates carry date None."""
    out = {}
    for idx, (sid, _name, flag) in enumerate(series_rows):
        if flag == "no":
            continue
        rng = _rng(seed, 1000 + 97 * idx + month)
        # cents; the second series sits in the thousands ("2.512,34")
        level = 250_000 if idx == 1 else 1000 + 40 * idx
        trend = int(rng.integers(-30, 31))
        rows = []
        d = _month_start(month)
        last = _month_end(month)
        while d <= last:
            cents = level + trend * month + int(rng.integers(-25, 26))
            rows.append((d.strftime("%d/%m/%Y"), _pt_br(cents), d, cents))
            r = rng.random()
            if r < 0.03:  # same date again, another value: dedup keeps the min
                c2 = cents + int(rng.integers(1, 40))
                rows.append((d.strftime("%d/%m/%Y"), _pt_br(c2), d, c2))
            elif r < 0.05:  # unparseable date: dropped at the source
                rows.append((f"{d.day:02d}-{d.month:02d}-{d.year}", _pt_br(cents), None, None))
            d += dt.timedelta(days=1)
        out[sid] = rows
    return out


def _anp_month(seed, month, rows):
    """One month's ANP CSV text, its valid rows (day, uf, product, cents),
    the rows each parse rule drops, and its data row count."""
    rng = _rng(seed, 50_000 + month)
    n_uf, n_prod = len(UFS), len(PRODUCTS)
    base = _rng(seed, 7).integers(350, 700, size=(n_uf, n_prod))  # cents
    drift = _rng(seed, 8 + month).integers(-20, 21, size=(n_uf, n_prod))
    uf = rng.integers(0, n_uf, size=rows)
    prod = rng.integers(0, n_prod, size=rows)
    ms = _month_start(month)
    ndays = calendar.monthrange(ms.year, ms.month)[1]
    day = rng.integers(1, ndays + 1, size=rows)
    cents = base[uf, prod] + drift[uf, prod] + rng.integers(-40, 41, size=rows)
    kind = rng.random(rows)
    lines = [ANP_HEADER]
    valid = []  # (day, uf, prod, cents) of rows that survive the parse rules
    drops = {"bad_date": 0, "bad_price": 0, "price_le_0": 0}
    prev = None  # (line, parsed) of the last valid row
    for i in range(rows):
        u, p, d, c, k = int(uf[i]), int(prod[i]), int(day[i]), int(cents[i]), kind[i]
        if 0.025 <= k < 0.045 and prev is not None:
            lines.append(prev[0])  # verbatim duplicate of the last valid row
            valid.append(prev[1])
            continue
        date_s = f"{d:02d}/{ms.month:02d}/{ms.year}"
        price_s = _pt_br(c) if i % 5 else _en(c)
        rule = None
        if k < 0.010:
            date_s, rule = ("n/d" if i % 2 else ""), "bad_date"
        elif k < 0.020:
            price_s, rule = ("abc" if i % 2 else ""), "bad_price"
        elif k < 0.025:
            price_s, rule = ("0,00" if i % 2 else _pt_br(-c)), "price_le_0"
        ufid, sig, _nome, reg = UFS[u]
        line = (f"{REGION_SIGLA[reg]};{sig};MUNICIPIO {ufid}-{i % 17};{PRODUCTS[p]};"
                f"{date_s};{price_s};;R$ / litro")
        lines.append(line)
        if rule:
            drops[rule] += 1
        else:
            valid.append((d, u, p, c))
            prev = (line, (d, u, p, c))
    return "\n".join(lines) + "\n", valid, drops, rows


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as f:
        f.write(text)


def _java_2f(x, signed=False):
    """String.format(ROOT, "%.2f") / "%+.2f" of a double: Java rounds the
    shortest decimal form HALF_UP."""
    from decimal import ROUND_HALF_UP, Decimal
    q = Decimal(repr(float(x))).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP)
    s = f"{q:.2f}"
    return "+" + s if signed and not s.startswith("-") else s


def _gold_avg(cents_list):
    """Exact.exactAvg(scale 6) of 2-decimal values, as Spark computes it."""
    q = sum(int(c) * 10_000 for c in cents_list)
    return float(q) / 1e6 / len(cents_list)


class EtlState:
    """Accumulated inputs over months; renders files and the model."""

    def __init__(self, seed, months, rows_per_month, n_series):
        self.seed, self.rows_per_month = seed, rows_per_month
        self.series_rows = _series(n_series)
        self.months = 0
        self.bcb = {}  # sid -> observations (all months)
        self.anp_valid = []  # (month, day, uf, prod, cents)
        self.anp_files = []  # (name, text, raw_rows, drops)
        for _ in range(months):
            self.add_month()

    def add_month(self):
        m = self.months
        for sid, rows in _bcb_obs(self.seed, self.series_rows, m).items():
            self.bcb.setdefault(sid, []).extend(rows)
        text, valid, drops, raw = _anp_month(self.seed, m, self.rows_per_month)
        ms = _month_start(m)
        self.anp_files.append((f"precos_{ms.year}_{ms.month:02d}.csv", text, raw, drops))
        self.anp_valid.extend((m, d, u, p, c) for d, u, p, c in valid)
        self.months += 1

    @property
    def start_date(self):
        return START.isoformat()

    @property
    def end_date(self):
        return _month_end(self.months - 1).isoformat()

    def write(self, out):
        """Render the inputs under `out`; returns their total byte size."""
        fx = os.path.join(out, "fixtures")
        ibge = [{"id": i, "sigla": s, "nome": n,
                 "regiao": {"id": list(REGION_SIGLA).index(r) + 1,
                            "sigla": REGION_SIGLA[r], "nome": r}}
                for i, s, n, r in UFS]
        _write(os.path.join(fx, "ibge.json"), json.dumps(ibge, ensure_ascii=False))
        for sid, rows in self.bcb.items():
            payload = [{"data": ds, "valor": vs} for ds, vs, _d, _c in rows]
            _write(os.path.join(fx, f"bcb_{sid}.json"), json.dumps(payload))
        _write(os.path.join(out, "bcb_series.csv"),
               "series_id,series_name,enabled\n" +
               "".join(f"{i},{n},{e}\n" for i, n, e in self.series_rows))
        for name, text, _raw, _drops in self.anp_files:
            _write(os.path.join(out, "anp", name), text)
        total = 0
        for root, _dirs, files in os.walk(out):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def model(self, since_month=0):
        """Known answer for a Pipeline.run that loads months >= since_month
        on top of the earlier ones (since_month=0: full load)."""
        # ---- BCB silver: unparseable dates dropped, min value per (series, date)
        bcb_silver = {}  # (sid, date) -> cents
        names = {i: n for i, n, _e in self.series_rows}
        for sid, rows in self.bcb.items():
            for _ds, _vs, d, c in rows:
                if d is None:
                    continue
                key = (sid, d)
                bcb_silver[key] = min(c, bcb_silver.get(key, c))
        cut = _month_start(since_month)
        # bronze rows entering silver: parseable dates past the high-water mark
        bcb_in = sum(1 for rows in self.bcb.values() for _ds, _vs, d, _c in rows
                     if d is not None and d >= cut)
        bcb_inc = sum(1 for (_s, d) in bcb_silver if d >= cut)
        # ---- ANP silver: min price per (date, uf, product)
        anp_silver = {}
        for m, d, u, p, c in self.anp_valid:
            key = (m, d, u, p)
            anp_silver[key] = min(c, anp_silver.get(key, c))
        files = self.anp_files[since_month:]
        raw_rows = sum(f[2] for f in self.anp_files)  # the whole drop is re-read
        drops = {k: sum(f[3][k] for f in files) for k in ("bad_date", "bad_price", "price_le_0")}
        inc_valid = sum(1 for v in self.anp_valid if v[0] >= since_month)
        anp_inc = sum(1 for k in anp_silver if k[0] >= since_month)
        drops["duplicate_key"] = inc_valid - anp_inc
        # ---- gold
        bcb_groups, anp_groups = {}, {}
        for (sid, d), c in bcb_silver.items():
            bcb_groups.setdefault((sid, d.year, d.month), []).append((d, c))
        for (m, _d, u, p), c in anp_silver.items():
            anp_groups.setdefault((u, p, m), []).append(c)
        bcb_avgs = [_gold_avg([c for _d, c in v]) for v in bcb_groups.values()]
        anp_avgs = [_gold_avg(v) for v in anp_groups.values()]
        # ---- summary: target series latest value and month-over-month delta
        sid, name = TARGET_SERIES
        obs = sorted((d, c) for (s, d), c in bcb_silver.items() if s == sid)
        last_d, last_c = obs[-1]
        by_month = {}
        for d, c in obs:
            by_month[(d.year, d.month)] = c  # sorted: the month's last date wins
        months = sorted(by_month)
        delta = (by_month[months[-1]] / 100 - by_month[months[-2]] / 100
                 if len(months) >= 2 else None)
        # ---- summary: top-3 ANP month-over-month increases of the latest month
        avg = {k: Fraction(sum(v), 100 * len(v)) for k, v in anp_groups.items()}
        latest = max(m for _u, _p, m in avg)
        changes = {}
        for (u, p, m), a in avg.items():
            if m != latest:
                continue
            prev = [mm for (uu, pp, mm) in avg if (uu, pp) == (u, p) and mm < m]
            if prev:
                changes[f"{UFS[u][1]} / {PRODUCTS[p]}"] = a - avg[(u, p, max(prev))]
        top = sorted(changes.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
        lines = [f"BCB/SGS (série {sid}) - {names[sid]}: último valor em "
                 f"{last_d.isoformat()} = {_java_2f(last_c / 100)}."]
        if delta is not None:
            lines.append(f"Variação vs mês anterior: {_java_2f(delta, True)} (variação absoluta).")
        lines.append(f"ANP - Destaques de {_month_start(latest).isoformat()}:")
        lines += [f"- {k}: variação média {_java_2f(float(v), True)} (vs mês anterior)."
                  for k, v in top]
        rows_in = raw_rows + bcb_in
        rows_out = anp_inc + bcb_inc
        return {
            "since_month": since_month,
            "anp_raw_rows": raw_rows,
            "silver_rules": {"anp_rows_in": sum(f[2] for f in files),
                             "anp_dropped": drops, "anp_rows_out": anp_inc,
                             "bcb_rows_in": bcb_in, "bcb_rows_out": bcb_inc},
            "rows_in": rows_in,
            "rows_out": rows_out,
            "bcb_silver_rows": len(bcb_silver),
            "anp_silver_rows": len(anp_silver),
            "bcb_increment_rows": bcb_inc,
            "anp_increment_rows": anp_inc,
            "gold_bcb_rows": len(bcb_groups),
            "gold_anp_rows": len(anp_groups),
            "gold_bcb_avg_sum": sum(bcb_avgs),
            "gold_anp_avg_sum": sum(anp_avgs),
            "bcb_last_date": f"{last_d.isoformat()} 00:00:00.000000",
            "anp_last_period": max(
                f"{_month_start(m).replace(day=d).isoformat()} 00:00:00.000000"
                for (m, d, _u, _p) in anp_silver),
            "summary": "\n".join(lines),
            "summary_values": {
                "latest_value": last_c / 100, "delta": delta,
                "anp_changes": {k: float(v) for k, v in changes.items()},
            },
        }
