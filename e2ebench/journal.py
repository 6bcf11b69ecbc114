"""Seeded synthetic journal generator and its expected-answer ledger.

The journal follows the layout `graft.sources.Journal` reads:

    t_<TENANT>/account/<ACCOUNT>/snapshot/<VERSION %010d>   "CCY FMT_T"
    t_<TENANT>/account/<ACCOUNT>/events/<SNAP %010d>/<STATUS>_<DIR>_<TX>   "<version>"
    t_<TENANT>/transaction/<TX>   status word, then one transfer record a line

Every file the generator writes is also applied to the ledger, which then
answers what a correct warehouse holds and what each served request must
return. The same seed and sizes always give the same bytes.
"""

import os
import random
from decimal import Decimal

STATUS_WORD = {1: "committed", 2: "rollbacked", 0: "promised"}
CURRENCIES = ("CZK", "EUR", "USD")
FORMATS = ("FMT1", "FMT2", "FMT3", "FMT4")


class Journal:
    """Writes journal files under `root` and keeps the ledger in step."""

    def __init__(self, root, seed, tenants, accounts_per_tenant, staged=False):
        self.root = root
        self.rng = random.Random(seed)
        self.staged = staged
        self.staging = os.path.join(root, ".staging")
        self.tenants = [f"TN{i:02d}" for i in range(tenants)]
        self.accounts = {}        # tenant -> {name: (currency, format)}
        self.snapshot = {}        # (tenant, name) -> current snapshot version
        self.version = {}         # (tenant, name) -> last event version in it
        self.mark = {}            # (tenant, name) -> watermark (snap, version)
        self.transfers = {}       # tenant -> list of transfer tuples
        self.tx_keys = []         # every transfer written, any status
        self.balance = {}         # (tenant, name) -> Decimal, committed only
        self.next_tx = 0
        self.files = 0
        self.bytes = 0
        for t in self.tenants:
            self.accounts[t] = {}
            self.transfers[t] = []
            for j in range(accounts_per_tenant):
                self.add_account(t, f"A{j:05d}")

    # ---- writing -----------------------------------------------------

    def _put(self, rel, content):
        path = os.path.join(self.root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        data = content.encode()
        if self.staged:
            # readers glob t_*/...; a file appears whole, never half-written
            os.makedirs(self.staging, exist_ok=True)
            tmp = os.path.join(self.staging, rel.replace("/", "_"))
            with open(tmp, "wb") as f:
                f.write(data)
            os.replace(tmp, path)
        else:
            with open(path, "wb") as f:
                f.write(data)
        self.files += 1
        self.bytes += len(data)

    def add_account(self, tenant, name):
        ccy = self.rng.choice(CURRENCIES)
        fmt = self.rng.choice(FORMATS)
        self.accounts[tenant][name] = (ccy, fmt)
        self.snapshot[(tenant, name)] = 0
        self.version[(tenant, name)] = 0
        self.mark[(tenant, name)] = (0, 0)
        self._put(f"t_{tenant}/account/{name}/snapshot/{0:010d}", f"{ccy} {fmt}_T\n")

    def rotate_snapshot(self, tenant, name):
        """Starts a new snapshot: event versions restart at 1 under it."""
        key = (tenant, name)
        snap = self.snapshot[key] + 1
        self.snapshot[key] = snap
        self.version[key] = 0
        ccy, fmt = self.accounts[tenant][name]
        self._put(f"t_{tenant}/account/{name}/snapshot/{snap:010d}", f"{ccy} {fmt}_T\n")

    def _event(self, tenant, name, status, direction, tx):
        key = (tenant, name)
        self.version[key] += 1
        snap, ver = self.snapshot[key], self.version[key]
        self.mark[key] = (snap, ver)
        self._put(f"t_{tenant}/account/{name}/events/{snap:010d}/{status}_{direction}_{tx}",
                  f"{ver}\n")

    def transaction(self, tenant=None):
        """One transaction file and its parties' events; returns its id.

        The transaction file is written before its events, so a reader that
        sees an event can always find the transaction it announces.
        """
        rng = self.rng
        tenant = tenant or rng.choice(self.tenants)
        r = rng.random()
        status = 1 if r < 0.90 else (2 if r < 0.96 else 0)
        # one or two transfers between distinct accounts of the tenant
        k = 4 if rng.random() < 0.2 else 2
        picked = rng.sample(sorted(self.accounts[tenant]), k)
        parties = [(picked[i], picked[i + 1]) for i in range(0, k, 2)]
        tx = f"X{self.next_tx:08d}"
        self.next_tx += 1
        lines, rows = [STATUS_WORD[status]], []
        for m, (credit, debit) in enumerate(parties):
            amt = Decimal(rng.randint(100, 99999)) / 100
            day = rng.randint(0, 364)
            vdate = f"2024-{1 + day // 31 % 12:02d}-{1 + day % 28:02d}T00:00:00Z"
            tr = f"R{m}"
            lines.append(f"{tr} {tenant} {credit} {tenant} {debit} {vdate} {amt} CZK")
            rows.append((tx, tr, status, credit, debit, amt, vdate))
        self._put(f"t_{tenant}/transaction/{tx}", "\n".join(lines) + "\n")
        self.tx_keys.extend(f"{tenant}/{tx}/{r[1]}" for r in rows)
        for credit, debit in parties:
            self._event(tenant, credit, status, 1, tx)
            self._event(tenant, debit, status, -1, tx)
        if status != 0:
            self.transfers[tenant].extend(rows)
        if status == 1:
            for (_, _, _, credit, debit, amt, _) in rows:
                self.balance[(tenant, credit)] = self.balance.get((tenant, credit), 0) + amt
                self.balance[(tenant, debit)] = self.balance.get((tenant, debit), 0) - amt
        return tx

    def delta(self, n_tx, rotations):
        """A small batch of new files: snapshot rotations, then transactions."""
        for _ in range(rotations):
            t = self.rng.choice(self.tenants)
            self.rotate_snapshot(t, self.rng.choice(sorted(self.accounts[t])))
        for _ in range(n_tx):
            self.transaction()

    # ---- expected answers --------------------------------------------

    def expected_tables(self):
        """What `Warehouse.sync` must leave behind for the files written."""
        # the MV holds every account with a committed transfer, even at 0
        balances = {f"{t}/{n}": str(b) for (t, n), b in self.balance.items()}
        return {
            "tenants": len(self.tenants),
            "accounts": sum(len(a) for a in self.accounts.values()),
            "transfers": sum(len(v) for v in self.transfers.values()),
            "marks": {f"{t}/{n}": list(m) for (t, n), m in self.mark.items() if m != (0, 0)},
            "balances": balances,
        }
