"""Spec-level golden fingerprints: every SketchSpec's serialized states,
byte for byte.

For each spec, two disjoint slices of one fixed stream (of the spec's
value type) are each folded into an empty state; the pins are the sha256
of both serialized states, of their ``merge`` and of their
``merge_many``. Every pinned state must also survive
``serialize(deserialize(b)) == b``. A change to how a spec builds, merges
or serializes its states moves a digest here, even where the sketch's
published bound still holds.
"""

import hashlib

import numpy as np
import pytest

from exaloglog_paper_spark.ops.agg import ExaLogLogSpec, HyperLogLogSpec
from exaloglog_paper_spark.ops.profile import _profile_spec
from exaloglog_paper_spark.ops.specs import (
    BloomSpec,
    BottomKSampleSpec,
    CountMinSpec,
    CountSketchSpec,
    KLLSpec,
    MisraGriesSpec,
    PrioritySampleSpec,
    TailQuantileSpec,
    TDigestSpec,
    ThetaSpec,
)
from exaloglog_paper_spark.sketchlib.bitops import splitmix64

N = 6000  # values per slice


def _stream(kind: str):
    """The fixed stream of one value type, 2N values long."""
    h = splitmix64(np.arange(2 * N, dtype=np.uint64))
    if kind == "hash":
        return h
    if kind == "id":
        # half the stream is item 0, the rest spreads over 4096 items:
        # one heavy hitter over more items than any summary keeps
        heavy = (h >> np.uint64(63)) == np.uint64(0)
        return np.where(heavy, np.uint64(0), h % np.uint64(4096)).astype(np.int64)
    if kind == "float":
        u = (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        return -np.log1p(-u)  # exponential: a long right tail
    if kind == "pair":
        out = np.empty(len(h), dtype=[("key", "<u8"), ("w", "<i8")])
        out["key"] = h
        out["w"] = (splitmix64(h) % np.uint64(1000)).astype(np.int64) + 1
        return out
    raise ValueError(kind)


def _profile_values(sl):
    hashes = _stream("hash")[sl]
    return (hashes, hashes, _stream("id")[sl], _stream("float")[sl])


SPECS = {
    "exaloglog": (lambda: ExaLogLogSpec(2, 20, 10), "hash"),
    "hll": (lambda: HyperLogLogSpec(12), "hash"),
    "countmin": (CountMinSpec, "id"),
    "countsketch": (CountSketchSpec, "hash"),
    "kll": (KLLSpec, "float"),
    "tdigest": (TDigestSpec, "float"),
    "tailquantile": (TailQuantileSpec, "float"),
    "bloom": (BloomSpec, "hash"),
    "theta": (ThetaSpec, "hash"),
    "misragries": (MisraGriesSpec, "id"),
    "bottomk": (BottomKSampleSpec, "hash"),
    "prioritysample": (PrioritySampleSpec, "pair"),
    "profile": (_profile_spec, "profile"),
}

# name -> sha256 of (slice 1 state, slice 2 state, merge, merge_many)
GOLDEN = {
    "bloom": (
        "098bfd02eb42c41fc3e085dd71a2cba1215fe5cb109fe5d5792add5f6542ca2e",
        "d3ad93509092bdcd3c3571dade31596b3f857809e08ede5f655053d9579a1448",
        "17b68c9014488ba77d15a232ac7c0b331f5b67957ff5d6fed8be06c6270bdc96",
        "17b68c9014488ba77d15a232ac7c0b331f5b67957ff5d6fed8be06c6270bdc96",
    ),
    "bottomk": (
        "d2f5b030d0e80db2037850d432626ff31bfb213af789fa6596705f58ce595cf7",
        "38d188a18dab94cac5c43498d580f7b919c6676e964fbe4bf6ce0bfd5c57085b",
        "b5fe38fcbf4685ebbd3359e5a7a4830afe528143060016c2b55af4d13ea0fb17",
        "b5fe38fcbf4685ebbd3359e5a7a4830afe528143060016c2b55af4d13ea0fb17",
    ),
    "countmin": (
        "e6819f56542bca2d0cf362d38b5fc4aabaa969df611b7cee94f45f9046ebcf76",
        "48b59938141f0d364cc733193eea9c9bc02259dd6b5303e8a7c0085f5003d07e",
        "940c235741d04dec1b56de519a5ea28e08764f602d02af95218b274ddf01aba0",
        "940c235741d04dec1b56de519a5ea28e08764f602d02af95218b274ddf01aba0",
    ),
    "countsketch": (
        "eb421c69f3f484c20837def71a669e0788305dcbf54b2a4b3217883098df2021",
        "dfe8741cd830396ff2a6acc1186c02633f7cd55e84331787c6a4faecd454ae81",
        "ba8e20bd06153a4ad0d8b66fcf7ecce467427fd24c3dd2d9efab046f65d5e096",
        "ba8e20bd06153a4ad0d8b66fcf7ecce467427fd24c3dd2d9efab046f65d5e096",
    ),
    "exaloglog": (
        "73d46ccf1a74a329f819ac8b9efd272ebaa798f5fd5d766d3ef3d58089393caa",
        "3c4b96c2b06c79dbc86474108db440477614f8f35af48b06b19a27c1697b07b2",
        "49ded4d56c5ddccfdc5e327c71f4394b0a2a69b4974461908e2633c3872ba25e",
        "49ded4d56c5ddccfdc5e327c71f4394b0a2a69b4974461908e2633c3872ba25e",
    ),
    "hll": (
        "3c40c3076cc3554934d10a0438f3b85620dc4836cb0b9992749f11b3ed51a4e9",
        "6508bf1e3901b1141fc3dca6a9a373efc117a1fb40e84ce8d81bd7c352b13c4e",
        "db0f0da02c29a6902c01a4914396984bf2c4c9484711f3d44564de314459cc77",
        "db0f0da02c29a6902c01a4914396984bf2c4c9484711f3d44564de314459cc77",
    ),
    "kll": (
        "0e01df10977508f6549d513894b2beb6a851e1e09f5e653152dee871670be75d",
        "6d7eacedeb9cf58ee9b5c2ce86306b408b80dd3be8ff28e81e5d27e274549b39",
        "9275d31dde1fb3ff3e50f6d8d9a549a287687e704f849e7bb257ab965c573c54",
        "9275d31dde1fb3ff3e50f6d8d9a549a287687e704f849e7bb257ab965c573c54",
    ),
    "misragries": (
        "86ee1ce63b52db849ceaef2ba9c0193ecae996c4b46fac627827abb683bb12b0",
        "c59238c4f442be216ff8e8fd116c61dd454c45d58413d16c4f6ad88309679927",
        "70533619143aa3dfe4cb2316bfd2c642941d89113adbe9631d1577df9e0e14dc",
        "70533619143aa3dfe4cb2316bfd2c642941d89113adbe9631d1577df9e0e14dc",
    ),
    "prioritysample": (
        "2516467caea02759a376115f9a14afb9b3ff042625e1a47dd9d4c33f09123d59",
        "3126de4b40901c74b98d36373e587bef44708d56ce2f150e8027872dcd099c89",
        "fccac5405ff6b16eef1526d6c436554bd8c63545296e976d0bd4f9008f8c33a8",
        "fccac5405ff6b16eef1526d6c436554bd8c63545296e976d0bd4f9008f8c33a8",
    ),
    "profile": (
        "77eb331324d7bf087aeefaca103584bf5de60204cbe9ee3cec169dd8b8a77ac9",
        "c9f2b7265faad9968af9dfd3f966570680fc190ccefdd0140e41c6ae08fcf3e0",
        "690590b1fd58931c7bdc38bb0e59a92ef18ad6ea5a7f5a45d49439b1e7b5acaf",
        "690590b1fd58931c7bdc38bb0e59a92ef18ad6ea5a7f5a45d49439b1e7b5acaf",
    ),
    "tailquantile": (
        "6c890dd9761df20e69a2b9165d413e3dedaa44107652eff2978e06d09232cafc",
        "dee87ad490c89b423118d59fa05fcd427dd27a68d0dd59d0f8923db5f50d9543",
        "157f1c311707b55e22200c551ed96a707b34d7db9acc4334f1d6ed91151a77d1",
        "157f1c311707b55e22200c551ed96a707b34d7db9acc4334f1d6ed91151a77d1",
    ),
    "tdigest": (
        "fc60d6828229ae66ba633834fe1d20af412b78866bf77de6b17942e503357fce",
        "b9a7cad1dee292d0b0f85e4ed10783625490ee52ef2a5981aa5fa3cf9a800361",
        "158a45d2047d158aa96bd7e6d3c51edfedbee6e61f4ec9a7a29bc1b900db92f0",
        "158a45d2047d158aa96bd7e6d3c51edfedbee6e61f4ec9a7a29bc1b900db92f0",
    ),
    "theta": (
        "ac2ab8e30075530f168dccf95f1b670549a8d52bfaf0dd74a1e1ba8106f5a298",
        "23ca3c1d2424f6e9e4df56c3e5bb9f1ecff668559fc7108a26736066cd35064d",
        "db2fb2ad29967ef181cbbe1b3aca8bbf145410a4e9875e00c4445a49f792046f",
        "db2fb2ad29967ef181cbbe1b3aca8bbf145410a4e9875e00c4445a49f792046f",
    ),
}


def _fingerprints(name):
    make, kind = SPECS[name]
    spec = make()

    def values(sl):
        return _profile_values(sl) if kind == "profile" else _stream(kind)[sl]

    def state(i):  # a fresh state per use: merge may fold into its left side
        return spec.add(spec.empty(), values(slice(i * N, (i + 1) * N)))

    blobs = [
        spec.serialize(state(0)),
        spec.serialize(state(1)),
        spec.serialize(spec.merge(state(0), state(1))),
        spec.serialize(spec.merge_many([state(0), state(1)])),
    ]
    for b in blobs:
        assert spec.serialize(spec.deserialize(b)) == b
    return tuple(hashlib.sha256(b).hexdigest() for b in blobs)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_spec_fingerprints(name):
    assert _fingerprints(name) == GOLDEN[name]
