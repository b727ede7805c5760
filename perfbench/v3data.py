"""Seeded Uniswap v3 event generator for the pool workloads.

Writes the four event tables with the ``tables.SCHEMAS`` layout described
in FIXTURES.md:

- big integers (prices, liquidity, amounts, gas) are strings;
- several pools on two chains, with one pool address present on both
  chains, so every read depends on the (chain_name, address) filter;
- each swap's ``tick`` is the floor of the tick implied by its
  ``sqrtPriceX96``;
- every burn takes liquidity from one earlier mint of the same position and
  never more than that position still holds;
- every pool first mints a full-range position that is never burned, so a
  swap simulated at any as-of finds liquidity at the current price.

Output layout under ``root``:

- ``landed/<table>/chain_name=<chain>/base.parquet``: the already-ingested
  part, in the hive layout ``tables.write_segment`` appends to;
- ``upstream/<table>/part.parquet`` (swaps and mint/burns only): the
  held-back newest slice, served by ``LocalParquetConnector`` for appends.

``generate`` returns a manifest with what the checks need: per-pool swap
and mint/burn events (all of them, landed and held back) and the landed
watermark block per chain.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

Q96 = 2**96
MAX_TICK = 887272
LOG_BASE = math.log(1.0001)
FEE_TIERS = [(500, 10), (3000, 60), (10000, 200)]
# (chain, first block, first block time, seconds per block, carries l1_fee)
CHAINS = [
    ("ethereum", 12_369_621, datetime(2021, 5, 5, tzinfo=timezone.utc), 12.0, False),
    ("arbitrum", 2_000_000, datetime(2021, 9, 1, tzinfo=timezone.utc), 0.5, True),
]

_TS = pa.timestamp("us", tz="UTC")
_COLS = {
    "factory_pool_created": [
        ("block_timestamp", _TS), ("block_number", pa.int64()),
        ("transaction_hash", pa.string()), ("log_index", pa.int64()),
        ("token0", pa.string()), ("token1", pa.string()), ("fee", pa.string()),
        ("tickSpacing", pa.string()), ("pool", pa.string()),
    ],
    "pool_initialize_events": [
        ("address", pa.string()), ("block_timestamp", _TS),
        ("block_number", pa.int64()), ("transaction_hash", pa.string()),
        ("log_index", pa.int64()), ("sqrtPriceX96", pa.string()),
        ("tick", pa.string()), ("to_address", pa.string()),
        ("from_address", pa.string()), ("transaction_index", pa.int64()),
        ("gas_price", pa.string()), ("gas_used", pa.string()),
    ],
    "pool_swap_events": [
        ("address", pa.string()), ("block_timestamp", _TS),
        ("block_number", pa.int64()), ("transaction_hash", pa.string()),
        ("log_index", pa.int64()), ("sender", pa.string()),
        ("recipient", pa.string()), ("amount0", pa.string()),
        ("amount1", pa.string()), ("sqrtPriceX96", pa.string()),
        ("liquidity", pa.string()), ("tick", pa.string()),
        ("from_address", pa.string()), ("to_address", pa.string()),
        ("transaction_index", pa.int64()), ("gas_price", pa.string()),
        ("gas_used", pa.string()), ("l1_fee", pa.string()),
    ],
    "pool_mint_burn_events": [
        ("address", pa.string()), ("block_timestamp", _TS),
        ("block_number", pa.int64()), ("transaction_hash", pa.string()),
        ("log_index", pa.int64()), ("amount", pa.string()),
        ("amount0", pa.string()), ("amount1", pa.string()),
        ("owner", pa.string()), ("tick_lower", pa.string()),
        ("tick_upper", pa.string()), ("type_of_event", pa.int64()),
        ("to_address", pa.string()), ("from_address", pa.string()),
        ("transaction_index", pa.int64()), ("gas_price", pa.string()),
        ("gas_used", pa.string()), ("l1_fee", pa.string()),
    ],
}
EVENT_TABLES = ["pool_swap_events", "pool_mint_burn_events"]


@dataclass
class PoolEvents:
    """One pool's generated events, sorted by as_of, for the checks."""

    chain: str
    address: str
    token0: str
    token1: str
    swap_as_of: np.ndarray
    swap_block: np.ndarray
    swap_price: list[str]
    swap_tick: list[int]
    mb_as_of: np.ndarray
    mb_block: np.ndarray
    mb_amount: np.ndarray  # liquidity as float64, the library's cast
    mb_sign: np.ndarray
    mb_lower: np.ndarray
    mb_upper: np.ndarray


@dataclass
class Manifest:
    root: str
    pools: list[PoolEvents]
    landed_block: dict[str, int]  # per chain: last block already landed
    last_block: dict[str, int]  # per chain: last block in upstream
    rows: dict[str, int] = field(default_factory=dict)  # per table, all rows
    landed_rows: dict[str, int] = field(default_factory=dict)


def _hex(rng: np.random.Generator, n: int, nbytes: int) -> list[str]:
    raw = rng.bytes(n * nbytes).hex()
    w = 2 * nbytes
    return ["0x" + raw[i * w:(i + 1) * w] for i in range(n)]


def _sqrt_x96(tick: float) -> int:
    return int(math.pow(1.0001, tick / 2.0) * Q96)


def _tick_of(sqrt_x96: int) -> int:
    # same float formula the library uses (swap_math.price_x96_to_tick)
    return int(math.floor(math.log((sqrt_x96 / Q96) ** 2) / LOG_BASE))


def _amounts(liq: int, sp: float, sa: float, sb: float) -> tuple[int, int]:
    """Token amounts of a position [sa, sb] holding ``liq`` at price sp."""
    if sp <= sa:
        return int(liq * (sb - sa) / (sa * sb)), 0
    if sp >= sb:
        return 0, int(liq * (sb - sa))
    return int(liq * (sb - sp) / (sp * sb)), int(liq * (sp - sa))


def _simulate_pool(rng, b_first, b_last, ts, n_swaps, n_pos):
    """One pool's event stream. Returns (initial tick, swap columns,
    mint/burn columns); block numbers and transaction indexes give every
    event of the pool a distinct as_of."""
    n_burn = int(n_pos * 0.6)
    # the full-range anchor mint comes first; burns are matched to an open
    # position when they happen (a burn with nothing open is dropped)
    kinds = np.array([1] * (n_pos - 1) + [2] * n_swaps + [3] * n_burn)
    rng.shuffle(kinds)
    kinds = np.concatenate([[0], kinds])
    blocks = np.sort(rng.integers(b_first, b_last, len(kinds)))
    _, first, counts = np.unique(blocks, return_index=True, return_counts=True)
    rank = np.arange(len(blocks)) - np.repeat(first, counts)
    tx = rank * 250 + rng.integers(0, 250, len(blocks))
    as_of = blocks + tx / 1e4

    # price walk: the tick after each swap, and the tick in force before
    # every event
    tick0 = float(rng.integers(-60_000, 60_000))
    is_swap = kinds == 2
    steps = rng.normal(0.0, 3.0 * ts, n_swaps)
    steps[steps == 0.0] = float(ts)
    after = np.clip(tick0 + np.cumsum(steps), -200_000.0, 200_000.0)
    before = np.concatenate([[tick0], after])[np.cumsum(is_swap) - is_swap]

    full_hi = (MAX_TICK // ts) * ts
    pos_lo, pos_hi, pos_liq = [], [], []
    owners = _hex(rng, 16, 20)
    mb = {k: [] for k in ("i", "amount", "amount0", "amount1", "owner", "lo", "hi", "sign")}
    pos_owner = []
    for i in np.flatnonzero(~is_swap).tolist():
        kind, tick_c = int(kinds[i]), float(before[i])
        if kind == 3:  # burn part or all of an open non-anchor position
            open_ix = [j for j in range(1, len(pos_liq)) if pos_liq[j] > 0]
            if not open_ix:
                continue
            j = open_ix[int(rng.integers(0, len(open_ix)))]
            frac = float(rng.uniform(0.3, 1.0))
            amt = pos_liq[j] if frac > 0.85 else int(pos_liq[j] * frac)
            pos_liq[j] -= amt
            lo_t, hi_t, owner, sign = pos_lo[j], pos_hi[j], pos_owner[j], -1
        else:
            if kind == 0:
                lo_t, hi_t = -full_hi, full_hi
                amt = int(rng.uniform(5e20, 2e21))
            else:
                centre = int(round(tick_c / ts)) * ts
                half = int(rng.integers(2, 400)) * ts
                lo_t = max(-full_hi, centre - half + int(rng.integers(-50, 50)) * ts)
                hi_t = min(full_hi, lo_t + 2 * half)
                amt = int(math.exp(rng.normal(math.log(2e19), 1.5)))
            owner = owners[int(rng.integers(0, len(owners)))]
            pos_lo.append(lo_t)
            pos_hi.append(hi_t)
            pos_liq.append(amt)
            pos_owner.append(owner)
            sign = 1
        a0, a1 = _amounts(
            amt,
            math.pow(1.0001, tick_c / 2.0),
            math.pow(1.0001, lo_t / 2.0),
            math.pow(1.0001, hi_t / 2.0),
        )
        for k, v in zip(mb, (i, amt, a0, a1, owner, lo_t, hi_t, sign)):
            mb[k].append(v)

    # swaps: amounts from the liquidity active at the new price
    si = np.flatnonzero(is_swap)
    mi = np.asarray(mb["i"], dtype=np.int64)
    m_lo = np.asarray(mb["lo"], dtype=np.float64)
    m_hi = np.asarray(mb["hi"], dtype=np.float64)
    m_l = np.asarray([float(a) * s for a, s in zip(mb["amount"], mb["sign"])])
    active = np.empty(len(si))
    for c in range(0, len(si), 512):
        ix = si[c:c + 512]
        t = after[np.arange(c, c + len(ix))][:, None]
        live = (mi[None, :] < ix[:, None]) & (m_lo <= t) & (t < m_hi)
        active[c:c + len(ix)] = (live * m_l).sum(axis=1)
    sp0 = np.power(1.0001, before[si] / 2.0)
    prices = [_sqrt_x96(t) for t in after.tolist()]
    sp1 = np.asarray([p / Q96 for p in prices])
    swaps = dict(
        i=si,
        price=prices,
        tick=[_tick_of(p) for p in prices],
        liquidity=active,
        amount0=active * (1.0 / sp1 - 1.0 / sp0),
        amount1=active * (sp1 - sp0),
    )
    return tick0, blocks, tx, as_of, swaps, mb


def _envelope(rng, chain, cols, n, table):
    """Columns every row of ``table`` carries besides its own."""
    _, b0, t0, bt, l1 = chain
    blocks = np.asarray(cols["block_number"], dtype=np.int64)
    t0_us = int(t0.timestamp() * 1_000_000)
    cols["block_timestamp"] = t0_us + ((blocks - b0) * int(bt * 1_000_000))
    cols["transaction_hash"] = _hex(rng, n, 32)
    cols.setdefault("log_index", rng.integers(0, 400, n))
    if table == "factory_pool_created":
        return
    cols["from_address"] = _hex(rng, n, 20)
    cols["to_address"] = _hex(rng, n, 20)
    cols["gas_price"] = [str(x) for x in rng.integers(1_000_000_000, 200_000_000_000, n).tolist()]
    gas_used = rng.integers(80_000, 400_000, n).tolist()
    cols["gas_used"] = [str(x) for x in gas_used]
    if table == "pool_swap_events":
        cols["sender"] = cols["to_address"]
        cols["recipient"] = cols["from_address"]
    if table != "pool_initialize_events":
        cols["l1_fee"] = [str(x * 1000) for x in gas_used] if l1 else [None] * n


def _chain_tables(rng, chain, specs, span, n_swaps, n_pos):
    """Columns of the four tables for one chain, plus the PoolEvents."""
    name, b0 = chain[0], chain[1]
    acc = {t: {} for t in _COLS}
    records = []

    def add(table, **cols):
        for k, v in cols.items():
            acc[table].setdefault(k, []).extend(v)

    for address, token0, token1, (fee, ts) in specs:
        b_create = b0 + int(rng.integers(1, max(2, span // 50)))
        tick0, blocks, tx, as_of, sw, mb = _simulate_pool(
            rng, b_create + 1, b0 + span, ts, n_swaps, n_pos
        )
        sqrt0 = _sqrt_x96(tick0)
        add("factory_pool_created", block_number=[b_create], token0=[token0],
            token1=[token1], fee=[str(fee)], tickSpacing=[str(ts)], pool=[address])
        add("pool_initialize_events", address=[address], block_number=[b_create],
            sqrtPriceX96=[str(sqrt0)], tick=[str(_tick_of(sqrt0))],
            transaction_index=[1])
        si, mi = sw["i"], np.asarray(mb["i"], dtype=np.int64)
        add("pool_swap_events", address=[address] * len(si),
            block_number=blocks[si].tolist(), transaction_index=tx[si].tolist(),
            amount0=[str(int(x)) for x in sw["amount0"].tolist()],
            amount1=[str(int(x)) for x in sw["amount1"].tolist()],
            sqrtPriceX96=[str(p) for p in sw["price"]],
            liquidity=[str(int(x)) for x in sw["liquidity"].tolist()],
            tick=[str(t) for t in sw["tick"]])
        add("pool_mint_burn_events", address=[address] * len(mi),
            block_number=blocks[mi].tolist(), transaction_index=tx[mi].tolist(),
            amount=[str(a) for a in mb["amount"]], amount0=[str(a) for a in mb["amount0"]],
            amount1=[str(a) for a in mb["amount1"]], owner=mb["owner"],
            tick_lower=[str(t) for t in mb["lo"]], tick_upper=[str(t) for t in mb["hi"]],
            type_of_event=mb["sign"])
        records.append(PoolEvents(
            chain=name, address=address, token0=token0, token1=token1,
            swap_as_of=as_of[si], swap_block=blocks[si],
            swap_price=[str(p) for p in sw["price"]], swap_tick=sw["tick"],
            mb_as_of=as_of[mi], mb_block=blocks[mi],
            mb_amount=np.asarray([float(a) for a in mb["amount"]]),
            mb_sign=np.asarray(mb["sign"], dtype=np.float64),
            mb_lower=np.asarray(mb["lo"], dtype=np.int64),
            mb_upper=np.asarray(mb["hi"], dtype=np.int64),
        ))
    for t, cols in acc.items():
        _envelope(rng, chain, cols, len(cols["block_number"]), t)
    return acc, records


def _table(table: str, cols: dict, mask: np.ndarray, chain: str | None) -> pa.Table:
    spec = _COLS[table]
    data = {}
    if chain is not None:
        data["chain_name"] = pa.array([chain] * int(mask.sum()), pa.string())
    order = None
    if "transaction_index" in cols:
        bn = np.asarray(cols["block_number"])[mask]
        order = np.lexsort((np.asarray(cols["transaction_index"])[mask], bn))
    for c, typ in spec:
        v = cols[c]
        arr = np.asarray(v, dtype=object)[mask] if not isinstance(v, np.ndarray) else v[mask]
        if order is not None:
            arr = arr[order]
        data[c] = pa.array(arr.tolist(), type=typ)
    return pa.table(data)


def generate(
    root: str,
    seed: int,
    pools_per_chain: int,
    swaps_per_pool: int,
    positions_per_pool: int,
    held_back: float = 0.2,
    days: float = 30.0,
) -> Manifest:
    """Write the tables under ``root`` (see module docstring). The last
    ``held_back`` share of each chain's blocks goes to ``upstream`` only."""
    rng = np.random.default_rng(seed)
    shared = _hex(rng, 1, 20)[0]
    pools: list[PoolEvents] = []
    per_chain = {}
    landed_block, last_block = {}, {}
    for ci, chain in enumerate(CHAINS):
        name, b0, _, bt, _ = chain
        span = int(days * 86400 / bt)
        specs = []
        for k in range(pools_per_chain):
            # pool 0 shares its address across chains (multi-tenant key)
            addr = shared if k == 0 else _hex(rng, 1, 20)[0]
            tok = sorted(_hex(rng, 2, 20))
            specs.append((addr, tok[0], tok[1], FEE_TIERS[(k + ci) % len(FEE_TIERS)]))
        per_chain[name], records = _chain_tables(
            rng, chain, specs, span, swaps_per_pool, positions_per_pool
        )
        pools.extend(records)
        landed_block[name] = b0 + int(span * (1.0 - held_back))
        last_block[name] = b0 + span

    man = Manifest(root=root, pools=pools, landed_block=landed_block, last_block=last_block)
    for t in _COLS:
        ups = []
        man.rows[t] = man.landed_rows[t] = 0
        for name, acc in per_chain.items():
            cols = acc[t]
            blocks = np.asarray(cols["block_number"])
            base = blocks <= landed_block[name] if t in EVENT_TABLES else np.ones(len(blocks), bool)
            man.rows[t] += len(blocks)
            man.landed_rows[t] += int(base.sum())
            d = os.path.join(root, "landed", t, f"chain_name={name}")
            os.makedirs(d, exist_ok=True)
            pq.write_table(_table(t, cols, base, None), os.path.join(d, "base.parquet"))
            if t in EVENT_TABLES:
                ups.append(_table(t, cols, ~base, name))
        if ups:
            d = os.path.join(root, "upstream", t)
            os.makedirs(d, exist_ok=True)
            pq.write_table(pa.concat_tables(ups), os.path.join(d, "part.parquet"))
    return man


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(path)
        for f in fs
        if not f.startswith((".", "_"))
    )
