"""Seeded input generators. Everything a workload feeds the program comes
from here, as a pure function of the seed; the ground truth each
workload checks against is computed here too, never read back from the
program.

The generators use numpy and pyarrow only, so making inputs touches no
Spark layer.
"""

from __future__ import annotations

import base64
import datetime as dt
import gzip
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# --- certificates ---------------------------------------------------------

# The ingest filter is given this `now`; every generated not_after lies
# after it, so the expiry filter (P2) drops nothing and the filtered-out
# rows are exactly the CA and empty-chain rows planted below.
NOW = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)
_EXP_BASE = dt.datetime(2030, 1, 1, tzinfo=dt.timezone.utc)
# Issuer mix and expiry spread follow the engine's own synthetic corpus
# (sources.certificates.synthetic_certificates, which bench.py uses):
# 12 issuers, the hot one taking 0.55 of the rows and the rest an equal
# share each, and expiries in buckets 6 hours apart, 40 of them there.
# 40 history buckets make 480 (exp_date, issuer_id) partitions.
N_ISSUERS = 12
HOT_WEIGHT = 0.55
N_BUCKETS = 40
BUCKET_HOURS = 6
BATCHES_PER_BUCKET = 4  # unverified: fetch batches per 6-hour expiry bucket
# Unverified: chosen, not measured on a live log.
DUP_SHARE = 0.2  # in-batch duplicate rows (the sizing brief's ~20%)
RESEND_SHARE = 0.1  # rows re-sent from earlier batches
CA_SHARE = 0.03  # CA certs, dropped by the ingest filter
EMPTY_CHAIN_SHARE = 0.01  # empty-chain certs, dropped by the ingest filter

CERT_SCHEMA = pa.schema(
    [
        ("log_url", pa.string()),
        ("entry_id", pa.int64()),
        ("entry_type", pa.string()),
        ("entry_ts", pa.timestamp("us", tz="UTC")),
        ("raw_der", pa.binary()),
        ("serial", pa.binary()),
        ("issuer_id", pa.string()),
        ("issuer_dn", pa.string()),
        ("issuer_cn", pa.string()),
        ("issuer_spki", pa.binary()),
        ("skid", pa.binary()),
        ("subject_cn", pa.string()),
        ("not_before", pa.timestamp("us", tz="UTC")),
        ("not_after", pa.timestamp("us", tz="UTC")),
        ("is_ca", pa.bool_()),
        ("basic_constraints_valid", pa.bool_()),
        ("crl_dps", pa.list_(pa.string())),
        ("chain_len", pa.int32()),
    ]
)


def issuer_id(i: int) -> str:
    return base64.urlsafe_b64encode(
        hashlib.sha256(f"perfbench-issuer-{i}".encode()).digest()
    ).decode()


class CertStream:
    """A CT log as the fetch daemon sees it: batches of entries whose
    identities are (exp-hour bucket, issuer, serial). Each batch mixes
    fresh identities, in-batch duplicates (~20% of rows) and re-sent
    identities from earlier batches (cross-run duplicates), over a
    skewed issuer mix. About 4% of fresh identities are CA or
    empty-chain certs, which the ingest filter drops.

    `stored` holds the ground truth: identity key -> serial bytes of
    every identity that passes the filter and has been emitted."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7001])
        self.weights = np.array(
            [HOT_WEIGHT] + [(1 - HOT_WEIGHT) / (N_ISSUERS - 1)] * (N_ISSUERS - 1)
        )
        self.issuers = [issuer_id(i) for i in range(N_ISSUERS)]
        self.spki = [
            hashlib.sha256(f"perfbench-spki-{i}".encode()).digest()
            for i in range(N_ISSUERS)
        ]
        self.next_entry = 0
        self.next_ident = 0
        self.next_bucket = 0  # the first bucket after the history
        self.n_batches = 0
        self.emitted: list[dict] = []  # identities, passing or not
        self.stored: dict[tuple[str, str, str], bytes] = {}

    @staticmethod
    def exp_key(not_after: dt.datetime) -> str:
        return not_after.strftime("%Y-%m-%d-%H")

    def _fresh_identity(self, buckets: range) -> dict:
        rng = self.rng
        n = self.next_ident
        self.next_ident += 1
        ii = int(rng.choice(N_ISSUERS, p=self.weights))
        bucket = int(rng.integers(buckets.start, buckets.stop))
        not_after = _EXP_BASE + dt.timedelta(
            hours=BUCKET_HOURS * bucket, seconds=int(rng.integers(0, 3600))
        )
        # serial: random prefix plus the identity number, so identities
        # never collide and lengths vary between 9 and 16 bytes
        serial = rng.integers(1, 256, size=int(rng.integers(5, 13)), dtype=np.uint8)
        serial = serial.tobytes() + n.to_bytes(4, "big")
        u = rng.random()
        ident = {
            "serial": serial,
            "issuer": ii,
            "not_after": not_after,
            "is_ca": u < CA_SHARE,
            "chain_len": (
                0 if CA_SHARE <= u < CA_SHARE + EMPTY_CHAIN_SHARE else int(rng.integers(1, 4))
            ),
            "raw_der": rng.integers(0, 256, size=256, dtype=np.uint8).tobytes(),
            "n_crl": int(rng.integers(0, 3)),
        }
        ident["passes"] = not ident["is_ca"] and ident["chain_len"] >= 1
        ident["key"] = (self.exp_key(not_after), self.issuers[ii], serial.hex())
        return ident

    def _row(self, ident: dict, log: int) -> dict:
        ii = ident["issuer"]
        e = self.next_entry
        self.next_entry += 1
        return {
            "log_url": f"ct.example/log{log}",
            "entry_id": e,
            "entry_type": "precert" if e % 10 == 0 else "x509",
            "entry_ts": NOW + dt.timedelta(seconds=e),
            "raw_der": ident["raw_der"],
            "serial": ident["serial"],
            "issuer_id": self.issuers[ii],
            "issuer_dn": f"CN=Perfbench Issuer {ii}",
            "issuer_cn": f"Perfbench Issuer {ii} CA",
            "issuer_spki": self.spki[ii],
            "skid": self.spki[ii][:20],
            "subject_cn": f"host{e}.example.com",
            "not_before": ident["not_after"] - dt.timedelta(days=90),
            "not_after": ident["not_after"],
            "is_ca": ident["is_ca"],
            "basic_constraints_valid": True,
            "crl_dps": [
                f"http://crl{ii}.example.com/{j}.crl" for j in range(ident["n_crl"])
            ],
            "chain_len": ident["chain_len"],
        }

    def history(self, n_rows: int, path: str, n_buckets: int) -> int:
        """A batch whose fresh certs expire anywhere in the first
        n_buckets buckets: what a store holds after a long time of
        fetching. Call it once, before any batch(). Returns what _write
        returns."""
        self.next_bucket = n_buckets
        return self._write(n_rows, path, range(n_buckets))

    def batch(self, n_rows: int, path: str) -> int:
        """One fetch batch. Its fresh certs were logged together, so they
        expire close together: all in one bucket later than any bucket
        of the history. A bucket is 6 hours of expiries and the fetch
        daemon runs more often than that, so BATCHES_PER_BUCKET batches
        share a bucket before the next one starts. Returns what _write
        returns."""
        bucket = self.next_bucket + self.n_batches // BATCHES_PER_BUCKET
        self.n_batches += 1
        return self._write(n_rows, path, range(bucket, bucket + 1))

    def _write(self, n_rows: int, path: str, buckets: range) -> int:
        """Write n_rows entries as parquet at `path`; return how many
        never-stored identities that pass the filter they carry (what
        append_new_to_store must append)."""
        rng = self.rng
        n_resend = int(n_rows * RESEND_SHARE) if self.emitted else 0
        n_dup = int(n_rows * DUP_SHARE)
        n_fresh = n_rows - n_resend - n_dup
        fresh = [self._fresh_identity(buckets) for _ in range(n_fresh)]
        picks = fresh + [fresh[int(i)] for i in rng.integers(0, n_fresh, n_dup)]
        if n_resend:
            picks += [
                self.emitted[int(i)]
                for i in rng.integers(0, len(self.emitted), n_resend)
            ]
        order = rng.permutation(len(picks))
        rows = [self._row(picks[int(i)], int(i) % 3) for i in order]
        pq.write_table(pa.Table.from_pylist(rows, schema=CERT_SCHEMA), path)
        self.emitted.extend(fresh)
        n_new = 0
        for ident in fresh:
            if ident["passes"]:
                self.stored[ident["key"]] = ident["serial"]
                n_new += 1
        return n_new

    def miss_key(self) -> tuple[str, str, str]:
        """A key in an existing (exp_date, issuer) partition whose serial
        was never emitted: identity serials end in a 4-byte counter below
        2**31, this one does not."""
        bucket = int(self.rng.integers(0, self.next_bucket))  # history buckets only
        ii = int(self.rng.choice(N_ISSUERS, p=self.weights))
        exp = self.exp_key(_EXP_BASE + dt.timedelta(hours=BUCKET_HOURS * bucket))
        serial = self.rng.integers(1, 256, 8, dtype=np.uint8).tobytes() + b"\xff\xff\xff\xff"
        return exp, self.issuers[ii], serial.hex()


# --- crawl drops ------------------------------------------------------------

WORDS_PER_DOC = 120

_WORDS = (
    "the of and to in is that for it as with was on be by this are from at "
    "or have an they which one you were all we can her has there been if "
    "more when will would who so no river mountain signal market harbor "
    "engine garden lantern copper meadow thunder violet orbit canyon ember "
    "falcon glacier hollow island jasper kettle lumen marble nectar oasis "
    "pepper quartz raven saddle timber umber velvet willow yonder zephyr "
    "archive beacon cobalt delta fable gravel harvest ivory juniper kernel "
    "ledger mosaic north olive prism quiver ridge summit tundra vector"
).split()


def _doc_text(rng: np.random.Generator, n_words: int) -> str:
    words = rng.choice(_WORDS, size=n_words)
    sents = []
    for i in range(0, n_words, 12):
        s = " ".join(words[i : i + 12])
        sents.append(s[:1].upper() + s[1:] + ".")
    return " ".join(sents)


def _html_response(text: str, title: str) -> bytes:
    html = (
        f"<html><head><title>{title}</title><style>p{{margin:0}}</style>"
        f"<script>var t = 1;</script></head><body><h1>{title}</h1>"
        f"<p>{text}</p></body></html>"
    )
    return (
        "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n"
        f"Content-Length: {len(html)}\r\n\r\n{html}"
    ).encode()


def _warc(records: list[tuple[str, str, bytes]]) -> bytes:
    out = []
    for rid, url, body in records:
        out.append(
            (
                "WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Target-URI: {url}\r\nWARC-Date: 2026-01-01T00:00:00Z\r\n"
                f"WARC-Record-ID: <urn:uuid:{rid}>\r\n"
                "Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(body)}\r\n\r\n"
            ).encode()
            + body
            + b"\r\n\r\n"
        )
    return b"".join(out)


class CrawlStream:
    """Successive crawl drops. Each drop is one plain and one gzipped
    WARC archive. A share of each drop's pages are verbatim copies of
    pages from earlier drops under new record ids (cross-drop exact
    duplicates) and a share are near copies (one word changed); some
    pages leak PII and a few quote the eval suite, so the decontamination
    and redaction stages have work.

    Copies are only made of pages without PII or eval text, whose
    exported text equals their generated text. The shares (15% verbatim,
    10% near copies, 5% PII, 2% eval text) are unverified: chosen so
    every stage has work, not measured on a real crawl."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7002])
        self.clean: list[str] = []  # copyable texts of earlier drops
        self.n = 0
        self.eval_texts = [_doc_text(self.rng, 40) for _ in range(16)]

    def eval_suite(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)
        with open(os.path.join(path, "suite.jsonl"), "w") as f:
            for i, t in enumerate(self.eval_texts):
                f.write(json.dumps({"doc_id": i, "text": t, "lang": "en"}) + "\n")

    def drop(self, n_docs: int, path: str) -> None:
        rng = self.rng
        os.makedirs(path, exist_ok=True)
        recs, clean = [], []
        for _ in range(n_docs):
            u = rng.random()
            if self.clean and u < 0.15:  # verbatim re-crawl under a new id
                text = self.clean[int(rng.integers(0, len(self.clean)))]
            elif self.clean and u < 0.25:  # near copy: one word changed
                words = self.clean[int(rng.integers(0, len(self.clean)))].split()
                words[int(rng.integers(0, len(words)))] = "variant"
                text = " ".join(words)
            else:
                text = _doc_text(rng, WORDS_PER_DOC)
                if u > 0.95:
                    text += f" Contact admin{self.n}@mail.example or 10.0.{self.n % 250}.7."
                elif u > 0.93:
                    text += " " + self.eval_texts[int(rng.integers(0, 16))]
                else:
                    clean.append(text)
            url = f"https://site{self.n % 37}.example/page/{self.n}"
            recs.append((f"pb-{self.n:09d}", url, _html_response(text, f"Page {self.n}")))
            self.n += 1
        half = len(recs) // 2
        with open(os.path.join(path, "seg-000.warc"), "wb") as f:
            f.write(_warc(recs[:half]))
        with open(os.path.join(path, "seg-001.warc.gz"), "wb") as f:
            f.write(gzip.compress(_warc(recs[half:]), compresslevel=6, mtime=0))
        self.clean.extend(clean)


# --- embeddings -------------------------------------------------------------

# Unverified: a small embedding space chosen so a run stays short, not
# the dimension or cluster structure of a real embedding model.
DIM = 32
N_CLUSTERS = 24


class VectorStream:
    """Clustered unit vectors: n_clusters random centres plus Gaussian
    noise, so neighbourhoods exist and recall against exact cosine is a
    property of the index, not of the data."""

    def __init__(self, seed: int):
        self.rng = np.random.default_rng([seed, 7003])
        c = self.rng.normal(size=(N_CLUSTERS, DIM))
        self.centres = c / np.linalg.norm(c, axis=1, keepdims=True)
        self.next_id = 0
        self.all_ids: list[np.ndarray] = []
        self.all_vecs: list[np.ndarray] = []

    def _draw(self, n: int) -> np.ndarray:
        k = self.rng.integers(0, len(self.centres), n)
        v = self.centres[k] + 0.12 * self.rng.normal(size=(n, DIM))
        return (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float64)

    def vectors(self, n: int, path: str) -> None:
        """n new corpus vectors as parquet (vec_id, embedding)."""
        v = self._draw(n)
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.int64)
        self.next_id += n
        self.all_ids.append(ids)
        self.all_vecs.append(v)
        _write_vecs(path, ids, v)

    def queries(self, n: int, path: str) -> np.ndarray:
        v = self._draw(n)
        _write_vecs(path, np.arange(n, dtype=np.int64), v)
        return v

    def exact_topk(self, q: np.ndarray, k: int) -> list[set[int]]:
        ids = np.concatenate(self.all_ids)
        vecs = np.concatenate(self.all_vecs)
        sims = q @ vecs.T
        top = np.argsort(-sims, axis=1, kind="stable")[:, :k]
        return [set(ids[row].tolist()) for row in top]


def _write_vecs(path: str, ids: np.ndarray, v: np.ndarray) -> None:
    table = pa.table(
        {
            "vec_id": pa.array(ids, pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float64())),
        }
    )
    pq.write_table(table, path)
