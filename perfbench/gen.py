"""Seeded, single-process input generators for the pipeline benchmark.

Two generators, both pure functions of their arguments (same seed, same
bytes):

* ``domain`` writes ethereum-etl style exporter CSVs for the domain DAG
  (blocks, transactions, receipts, logs, token_transfers, traces, plus
  contracts and tokens_metadata on the first delivery) and the two side
  inputs the DAG takes as DataFrames (rugpull list, daily token prices).
  Deliveries are contiguous block ranges: a history delivery followed by
  ``n_batches`` fresh batches.
* ``events`` writes the events ``Medallion``'s CSV export (event_id,
  ts_us, user_id, event_type, value, props) as one delivery whose
  columns follow the sf0.1 ``events`` table, near-uniform user keys
  included.

Wallet activity in the domain data is Zipf-skewed: a few hub wallets
carry a large share of transaction legs. Addresses are hashed from the
seed and the wallet index, so ``substr(address, 3, 2)`` spreads wallets
over all 256 ``address_partition`` values as mainnet addresses do.

Every wallet outside the hub set only spends ETH it has received, so its
running balance never goes negative. The benchmark's incremental-vs-full
check relies on that: the stored-state clamp makes negative-balance
wallets diverge from a full rebuild by design.

A small rate of edge rows rides along: reward traces, delegatecalls,
root traces duplicating their parent transaction, non-numeric token
values, char-exploded log topics, trace values above 1e38 and duplicate
tokens_metadata rows.
"""
import bisect
import hashlib
import os
import random

BLOCKS_HDR = "timestamp,number,hash,base_fee_per_gas"
TX_HDR = ("hash,from_address,to_address,nonce,transaction_index,gas,gas_price,"
          "max_fee_per_gas,max_priority_fee_per_gas,value,input,block_hash,"
          "block_timestamp,block_number,transaction_type")
RC_HDR = ("transaction_hash,block_number,cumulative_gas_used,gas_used,"
          "contract_address,root,status,effective_gas_price")
LOGS_HDR = "log_index,transaction_hash,address,data,topics,block_number"
TT_HDR = ("token_address,from_address,to_address,transaction_hash,value,"
          "log_index,block_number")
TRACES_HDR = ("transaction_hash,from_address,to_address,trace_type,call_type,"
              "reward_type,trace_id,error,value,gas,gas_used,subtraces,status,"
              "block_number")
CONTRACTS_HDR = "address,bytecode,is_erc20,is_erc721,block_timestamp,block_number,date_partition"
META_HDR = "contract_address,symbol,decimals,created_timestamp,date_partition"

GWEI = 10 ** 9
ETH = 10 ** 18
MICRO_ETH = 10 ** 12  # values are whole micro-ETH so decimal(38,6) sums are exact
DAY = 86400
HIST_START = 1693526400  # 2023-09-01T00:00:00Z
TRANSFER_TOPIC = "0xddf252ad1be2c89b69c2b068fc378daa952ba7f163c4a11628f55a4df523b3ef"


# Kronecker steps: the golden ratio's, sqrt(2)'s and sqrt(3)'s fractional parts
_STEPS = (0.6180339887498949, 0.4142135623730951, 0.7320508075688772)


def _hex(seed, kind, i, n=40):
    return hashlib.sha256(f"{seed}:{kind}:{i}".encode()).hexdigest()[:n]


def _addr(seed, kind, i):
    return "0x" + _hex(seed, kind, i)


def _month(ts):
    import datetime
    return datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).strftime("%Y-%m")


class _Csv:
    """One exporter table being written; counts its data rows."""

    def __init__(self, path, header):
        self.f = open(path, "w", newline="\n")
        self.f.write(header + "\n")
        self.rows = 0

    def row(self, *cols):
        self.f.write(",".join("" if c is None else str(c) for c in cols) + "\n")
        self.rows += 1

    def close(self):
        self.f.close()


def domain(out, seed, batch_seed, hist_tx, batch_tx, n_batches, months=4):
    """Write the domain deliveries under ``out``; return the manifest.

    ``out/history`` holds the first delivery, ``out/batch_NN`` the fresh
    batches, ``out/prices.csv`` and ``out/rugpulls.csv`` the side inputs.
    The history, the wallets and the side inputs are drawn from ``seed``,
    the batches from ``batch_seed``: one history serves every batch seed.
    The manifest lists each delivery's exporter rows and bytes and the
    top-1% wallets' share of transaction legs.
    """
    rng = random.Random(seed)
    n_wallets = max(200, hist_tx // 3)
    n_hubs = max(2, n_wallets // 100)
    n_tokens, n_contracts = 24, 40
    wallets = [_addr(seed, "w", i) for i in range(n_wallets)]
    tokens = [_addr(seed, "t", i) for i in range(n_tokens)]
    contracts = [_addr(seed, "c", i) for i in range(n_contracts)]
    cum, acc = [], 0.0
    for i in range(n_wallets):
        acc += 1.0 / (i + 1) ** 1.1
        cum.append(acc)

    # The transaction kind and the sender/receiver draws are quasi-random:
    # Kronecker sequences (one irrational step each) from seeded offsets.
    # Any run of consecutive transactions then holds the same mix of kinds,
    # hubs and long-tail wallets, so a 1% batch is the same size and
    # touches about as many wallets whatever the seed.
    offsets = [rng.random() for _ in _STEPS]

    def draw(stream, i):
        return (offsets[stream] + i * _STEPS[stream]) % 1.0

    def zipf(u):
        return min(bisect.bisect_left(cum, u * acc), n_wallets - 1)

    def token_user(i):  # a third of the wallets (and every hub) trade tokens
        return i - i % 3

    tx_per_block = 8
    hist_blocks = max(1, hist_tx // tx_per_block)
    interval = max(1, months * 30 * DAY // hist_blocks)
    balance = [0] * n_wallets
    nonce = [0] * n_wallets
    legs = [0] * n_wallets
    os.makedirs(out, exist_ok=True)

    # contract-family tables: delivered once, with the history
    decimals = [rng.choice([6, 8, 18]) for _ in tokens]
    created0 = HIST_START - 30 * DAY

    def write_contract_tables(d):
        c = _Csv(os.path.join(d, "contracts.csv"), CONTRACTS_HDR)
        for j, a in enumerate(tokens + contracts):
            ts = created0 + j * 600
            c.row(a, "0x6080604052", "true" if j < n_tokens else "false", "false",
                  ts, 1000 + j, _month(ts))
        m = _Csv(os.path.join(d, "tokens_metadata.csv"), META_HDR)
        for j, a in enumerate(tokens):
            ts = created0 + j * 600
            # edge: one token with no decimals (the stage default is 18)
            m.row(a, f"TK{j}", "" if j == n_tokens - 1 else decimals[j], ts, _month(ts))
            if j % 5 == 0:  # edge: an older duplicate row the latest pick drops
                m.row(a, f"OLD{j}", 2, ts - DAY, _month(ts - DAY))
        c.close()
        m.close()
        return c.rows + m.rows

    state = {"block": 17_000_000, "tx": 0}

    def delivery(name, n_tx, with_contracts):
        d = os.path.join(out, name)
        os.makedirs(d, exist_ok=True)
        files = {
            "blocks": _Csv(os.path.join(d, "blocks.csv"), BLOCKS_HDR),
            "transactions": _Csv(os.path.join(d, "transactions.csv"), TX_HDR),
            "receipts": _Csv(os.path.join(d, "receipts.csv"), RC_HDR),
            "logs": _Csv(os.path.join(d, "logs.csv"), LOGS_HDR),
            "token_transfers": _Csv(os.path.join(d, "token_transfers.csv"), TT_HDR),
            "traces": _Csv(os.path.join(d, "traces.csv"), TRACES_HDR),
        }
        bl, tx, rc, lg, tt, tr = (files[k] for k in (
            "blocks", "transactions", "receipts", "logs", "token_transfers", "traces"))
        rows = write_contract_tables(d) if with_contracts else 0
        first_block = state["block"]
        written = 0
        while written < n_tx:
            b = state["block"]
            ts = HIST_START + (b - 17_000_000) * interval
            bhash = "0x" + _hex(seed, "b", b, 64)
            base_fee = rng.randint(5, 40) * GWEI
            bl.row(ts, b, bhash, base_fee)
            if rng.random() < 0.05:  # edge: a block reward trace (no tx hash)
                miner = rng.randrange(n_hubs)
                tr.row(None, None, wallets[miner], "reward", None, "block", f"reward_{b}",
                       None, 2 * ETH, 0, 0, 0, 1, b)
                legs[miner] += 1
            # receipts are credited after the block: a wallet spends only
            # ETH received at an earlier timestamp, whatever the in-block
            # order the feature programs use
            credits = []
            cum_gas = 0
            for idx in range(min(rng.randint(4, 12), n_tx - written)):
                i = state["tx"]
                state["tx"] += 1
                written += 1
                h = "0x" + _hex(seed, "h", i, 64)
                gas_price = rng.randint(10, 60) * GWEI
                kind, us, ur = draw(0, i), draw(1, i), draw(2, i)
                status = 0 if rng.random() < 0.01 else 1
                if kind < 0.15:  # token transfer through a token contract
                    s, r = token_user(zipf(us)), token_user(zipf(ur))
                    if s == r:
                        r = token_user((r + 3) % n_wallets)
                    to, value, gas_used, inp = rng.choice(tokens), 0, 52000, "0xa9059cbb"
                else:
                    s, r = zipf(us), zipf(ur)
                    if s == r:
                        r = (r + 1) % n_wallets
                    gas_used = 21000 if kind >= 0.30 else 64000
                    to = wallets[r] if kind >= 0.30 else rng.choice(contracts)
                    value = rng.randint(1_000, 3_000_000) * MICRO_ETH if kind >= 0.30 else 0
                    inp = "0x" if kind >= 0.30 else "0x3593564c"
                fee = gas_used * gas_price
                if s >= n_hubs and balance[s] < value + fee:
                    # a long-tail wallet never overdraws: a hub pays instead
                    # and the wallet receives
                    if kind < 0.30:
                        s = rng.randrange(0, n_hubs, 3) if kind < 0.15 else rng.randrange(n_hubs)
                    else:
                        s, r = rng.randrange(n_hubs), s
                        to = wallets[r]
                sender = wallets[s]
                legs[s] += 1
                cum_gas += gas_used
                tx.row(h, sender, to, nonce[s], idx, gas_used + 10000, gas_price,
                       gas_price + GWEI, GWEI, value, inp, bhash, ts, b, 2)
                nonce[s] += 1
                rc.row(h, b, cum_gas, gas_used, None, None, status, gas_price)
                # root trace: duplicates its parent (dropped by the internal program)
                tr.row(h, sender, to, "call", "call", None, "call_0", None, value,
                       gas_used + 10000, gas_used, 1 if kind < 0.30 else 0, status, b)
                balance[s] -= fee
                if status == 1:
                    balance[s] -= value
                if kind < 0.15:
                    amount = rng.randint(1, 10 ** 6) * 10 ** max(0, decimals[tokens.index(to)] - 6)
                    if rng.random() < 0.01:
                        amount = "0x1f4e"  # edge: non-numeric token value
                    topics = f"{TRANSFER_TOPIC}|0x{sender[2:]:0>64}|0x{wallets[r][2:]:0>64}"
                    lg.row(0, h, to, "0x" + _hex(seed, "d", i, 64), topics, b)
                    tt.row(to, sender, wallets[r], h, amount, 0, b)
                    legs[r] += 1
                    if rng.random() < 0.01:  # edge: char-exploded topics
                        lg.row(1, h, to, "0x", "|".join(TRANSFER_TOPIC[:12]), b)
                elif kind < 0.30:
                    # contract call: the contract pays a wallet internally
                    paid = rng.randint(1_000, 500_000) * MICRO_ETH
                    tr.row(h, to, wallets[r], "call", "call", None, "call_1", None, paid,
                           30000, 20000, 0, status, b)
                    if status == 1:
                        credits.append((r, paid))
                    legs[r] += 1
                    if rng.random() < 0.05:  # edge: a delegatecall carrying value
                        tr.row(h, to, wallets[r], "call", "delegatecall", None, "call_2",
                               None, paid, 30000, 20000, 0, status, b)
                    if rng.random() < 0.01:  # edge: a trace value above 1e38
                        tr.row(h, to, wallets[0], "call", "staticcall", None, "call_3",
                               None, "1" + "0" * 40, 30000, 20000, 0, status, b)
                else:
                    if status == 1:
                        credits.append((r, value))
                    legs[r] += 1
            for r, v in credits:
                balance[r] += v
            state["block"] += 1
        for f in files.values():
            rows += f.rows
            f.close()
        size = sum(os.path.getsize(os.path.join(d, n)) for n in os.listdir(d))
        return {"name": name, "path": d, "rows": rows, "bytes": size,
                "first_block": first_block, "last_block": state["block"] - 1,
                "transactions": n_tx}

    deliveries = [delivery("history", hist_tx, True)]

    # the side inputs cover the history and every batch block (a block
    # holds at least four transactions, but a batch's last one)
    last_block = state["block"] + n_batches * (batch_tx // 4 + 1)
    end_ts = HIST_START + (last_block - 17_000_000) * interval
    p = _Csv(os.path.join(out, "prices.csv"), "address,price,price_ts")
    day = HIST_START - 8 * DAY
    levels = [rng.uniform(0.001, 2.0) for _ in tokens]
    while day <= end_ts + 8 * DAY:
        p.row("ETH", 1.0, day)
        for j, a in enumerate(tokens):
            levels[j] = round(max(1e-6, levels[j] * rng.uniform(0.95, 1.05)), 6)
            p.row(a, levels[j], day + 3600)
        day += DAY
    p.close()
    rp = _Csv(os.path.join(out, "rugpulls.csv"), "contract_address,rugpull_date")
    for j in (1, 7):
        rp.row(tokens[j], _day_str(HIST_START + (20 + 11 * j) * DAY))
    rp.close()

    # the batches continue the history's quasi-random wallet sequence, so
    # every batch seed touches the same wallets; the seed draws the rest
    # (block sizes, gas, values, statuses, edge rows)
    rng.seed(batch_seed)
    for k in range(n_batches):
        deliveries.append(delivery(f"batch_{k + 1:02d}", batch_tx, False))

    top = sorted(legs, reverse=True)[:max(1, n_wallets // 100)]
    return {"deliveries": deliveries, "wallets": n_wallets, "hubs": n_hubs,
            "top1pct_leg_share": round(sum(top) / max(1, sum(legs)), 4)}


def _day_str(ts):
    import datetime
    return datetime.datetime.fromtimestamp(ts, datetime.timezone.utc).strftime("%Y-%m-%d")


EVENT_TYPES = ("purchase", "view", "click", "signup", "error")
EV_HDR = "event_id,ts_us,user_id,event_type,value,props"
EV_START_US = 1704067200 * 10 ** 6  # 2024-01-01T00:00:00Z


def events(out, seed, n_events, users=1500):
    """Write the events delivery under ``out/history/part-0.csv``; return
    the manifest.

    The columns follow the sf0.1 ``events`` table: exponential
    inter-arrival times with a 26 s mean, 1,500 uniform user ids, five
    uniform event types, exponential values with a mean of 50 rounded to
    cents, and ``{"k": n}`` props with n uniform in 0..99.
    """
    rng = random.Random(seed)
    ts = EV_START_US
    d = os.path.join(out, "history")
    os.makedirs(d, exist_ok=True)
    f = _Csv(os.path.join(d, "part-0.csv"), EV_HDR)
    for eid in range(n_events):
        ts += int(rng.expovariate(1 / 26.0) * 10 ** 6) + 1
        f.row(eid, ts, rng.randrange(users), rng.choice(EVENT_TYPES),
              f"{rng.expovariate(1 / 50.0):.2f}", '"{\\"k\\": %d}"' % rng.randrange(100))
    f.close()
    return {"deliveries": [{"name": "history", "path": d, "rows": f.rows,
                            "bytes": os.path.getsize(os.path.join(d, "part-0.csv"))}],
            "users": users}
