"""Every writer output read back through the DataSource reader.

``test_reader_output_is_pinned`` pins the sha256 of the Arrow IPC of the
combined read and of the DataSource schema for one seeded file per
writer output, under each option set its format honours: a refactor of
the read path must keep these bytes (batch boundaries are not part of
the contract). Tagged missings are hand-patched into the written bytes.

``test_truncated_file_names_the_file`` cuts each file at seeded offsets
in its header and its data region, and the .dta in its value labels:
every cut raises a typed error that names the file, except an .xpt data
cut on an 80-byte record boundary, which reads exactly the whole records
present (XPORT stores no row count).
"""

from __future__ import annotations

import datetime
import hashlib
import os
import random
import struct
from functools import partial

import pyarrow as pa
import pytest

from polars_readstat_rs_spark import formats
from polars_readstat_rs_spark.datasource import ReadstatDataSource
from polars_readstat_rs_spark.formats.sas.bdat_writer import write_sas7bdat
from polars_readstat_rs_spark.formats.sas.xport import write_xpt
from polars_readstat_rs_spark.formats.spss.portable import write_por
from polars_readstat_rs_spark.formats.spss.writer import write_sav
from polars_readstat_rs_spark.formats.stata.writer import write_dta

N = 1500


def _table(dates: bool = True) -> pa.Table:
    rng = random.Random(11)
    strings = ["", "", "alpha", " lead", "trail ", "é"]
    cols = {
        "id": pa.array(range(N), pa.int32()),
        "x": pa.array([
            None if i % 9 == 0 else -99.0 if i % 13 == 0 else round(rng.uniform(-500, 500), 3)
            for i in range(N)
        ]),
        "s": pa.array([
            None if i % 6 == 1 else strings[i % 6] + ("" if i % 4 else str(i)) for i in range(N)
        ]),
        "lab": pa.array([i % 4 for i in range(N)], pa.int32()),
    }
    if dates:
        cols["d"] = pa.array([datetime.date(2000, 1, 1) + datetime.timedelta(days=i) for i in range(N)])
    return pa.table(cols)


# one file per writer output: each .sav compression, raw and RLE .sas7bdat,
# both XPORT versions
WRITERS = {
    "a.dta": partial(write_dta, value_labels={"lab": {0: "zero", 1: "one"}}),
    "a.sav": partial(write_sav, value_labels={"lab": {0.0: "zero", 1.0: "one"}},
                     user_missing={"x": [-99.0]}),
    "b.sav": partial(write_sav, compress=True, user_missing={"x": [-99.0]}),
    "c.zsav": partial(write_sav, compress="zsav", user_missing={"x": [-99.0]}),
    "a.sas7bdat": write_sas7bdat,
    "r.sas7bdat": partial(write_sas7bdat, compress="RLE"),
    "v5.xpt": write_xpt,
    "v8.xpt": partial(write_xpt, version=8),
    "a.por": partial(write_por, value_labels={"lab": {0.0: "zero", 1.0: "one"}}),
}
# rows whose null x is patched to a tagged missing, and the tag each gets
TAGGED = {9: 0, 18: 25, 27: 1, 36: 26}  # 0..25 = a..z, 26 = '_' (SAS)


def _patch_dta(path):
    from polars_readstat_rs_spark.formats.stata.parser import _read_metadata_uncached

    m = _read_metadata_uncached(path)
    off = m.offsets[[v.name for v in m.variables].index("x")]
    raw = bytearray(open(path, "rb").read())
    for row, tag in TAGGED.items():
        at = m.data_offset + row * m.record_len + off
        raw[at : at + 8] = struct.pack(m.endian + "Q", 0x7FE0000000000000 + 1 + tag % 26)
    open(path, "wb").write(bytes(raw))


def _patch_sas7bdat(path):
    from polars_readstat_rs_spark.formats.sas import parser as sp

    m = sp._read_metadata_uncached(path)
    col = next(c for c in m.columns if c.name == "x")
    raw = bytearray(open(path, "rb").read())
    for page, first, n in sp._page_index_of(path).tolist():
        at = m.header_length + page * m.page_length
        start, _ = sp.page_row_layout(bytes(raw[at : at + m.page_length]), m)
        for row, tag in TAGGED.items():
            if first <= row < first + n:
                cell = at + start + (row - first) * m.row_length + col.offset
                type_byte = 0xD2 if tag == 26 else 0xFF ^ (0x41 + tag)
                raw[cell : cell + 8] = struct.pack(m.endian + "Q", 0xFFFF000000000000 | type_byte << 40)
    open(path, "wb").write(bytes(raw))


def _patch_xpt(path):
    from polars_readstat_rs_spark.formats.sas import xport

    m = xport.read_metadata.__wrapped__(path)
    v = next(v for v in m.variables if v.name.lower() == "x")
    raw = bytearray(open(path, "rb").read())
    for row, tag in TAGGED.items():
        raw[m.data_offset + row * m.row_length + v.position] = ord("_") if tag == 26 else 0x41 + tag
    open(path, "wb").write(bytes(raw))


PATCHES = {"a.dta": _patch_dta, "a.sas7bdat": _patch_sas7bdat,
           "v5.xpt": _patch_xpt, "v8.xpt": _patch_xpt}


@pytest.fixture(scope="module")
def files(tmp_path_factory):
    d = tmp_path_factory.mktemp("reader_outputs")
    out = {}
    for name, write in WRITERS.items():
        path = str(d / name)
        write(_table(dates=not name.endswith(".xpt")), path)
        if name in PATCHES:
            PATCHES[name](path)
        out[name] = path
    return out


def _names(path):
    return ReadstatDataSource({"path": path}).schema().names


# option set -> (formats it applies to, options given the file's column names)
NULLS = ("stata", "spss", "sas", "xport")
OPTION_SETS = {
    "default": (None, lambda n: {}),
    "subset": (None, lambda n: {"columns": f"{n[2]},{n[1]}"}),
    "row_index": (None, lambda n: {"row_index": "true"}),
    "slice": (None, lambda n: {"offset": "7", "limit": "40"}),
    "slice_row_index": (None, lambda n: {"offset": "100", "limit": "30", "row_index": "true"}),
    "codes": (("stata", "spss", "por"), lambda n: {"value_labels_as_strings": "false"}),
    "empty_strings": (None, lambda n: {"missing_string_as_null": "false"}),
    "user_missing": (("spss",), lambda n: {"user_missing_as_null": "false"}),
    "separate": (NULLS, lambda n: {"informative_nulls": "separate"}),
    "struct": (NULLS, lambda n: {"informative_nulls": "struct"}),
    "merged": (NULLS, lambda n: {"informative_nulls": "merged"}),
    "separate_x": (NULLS, lambda n: {"informative_nulls": "true",
                                     "informative_null_columns": n[1],
                                     "informative_null_suffix": "_null"}),
}


def _read(path, options):
    ds = ReadstatDataSource({"path": path, **options})
    reader = ds.reader(None)
    batches = [b for part in reader.partitions() for b in reader.read(part)]
    return pa.Table.from_batches(batches, schema=reader._arrow_schema_of(path)), ds.schema()


def _ipc_sha(table: pa.Table) -> str:
    """sha256 of the table as ONE record batch in an IPC stream."""
    cols = [pa.concat_arrays(c.chunks) if c.num_chunks else pa.array([], c.type)
            for c in table.columns]
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        w.write_batch(pa.RecordBatch.from_arrays(cols, schema=table.schema))
    return hashlib.sha256(sink.getvalue().to_pybytes()).hexdigest()


def _digest(path, options):
    table, schema = _read(path, options)
    return _ipc_sha(table), hashlib.sha256(schema.json().encode()).hexdigest()[:16]


CASES = [
    (f, o) for f in WRITERS for o, (fmts, _) in OPTION_SETS.items()
    if fmts is None or formats.format_of(f) in fmts
]

PINNED = {
    "a.dta/default": ('ee42ed35a3c28ea3f2eca836ceb467876932d391e44339b0fb51b6165827861b', '212b90181580119a'),
    "a.dta/subset": ('5a1b358970592bfe506abd5411c078abbb04853a866762c436c9dfb8ddb7e62a', '55397deb58fa4d62'),
    "a.dta/row_index": ('9b97f7677aef8efc2029755bd7925fd12de24987b72a4c867589a3ff24044d9c', 'a283e018d34026cd'),
    "a.dta/slice": ('8f6a2a3a3b21ab6736187f99d12859a781883174dde24c8a6e774c9a1fb5be35', '212b90181580119a'),
    "a.dta/slice_row_index": ('fc48eb1572e0a02a7d9f83d4909e3d57abe714ee0ef5bf3ed905992ceddf86bb', 'a283e018d34026cd'),
    "a.dta/codes": ('13c7f3e8d096bae6055825b150b8da12e1617abb292403a58f6e83a5939e2ad8', '39e42c541632c1f6'),
    "a.dta/empty_strings": ('ee42ed35a3c28ea3f2eca836ceb467876932d391e44339b0fb51b6165827861b', '212b90181580119a'),
    "a.dta/separate": ('e0df05120ada9c97fe0fe4833e7a030e9577580d45f832e73fe531b62df16c70', 'ea132edcd86a5e28'),
    "a.dta/struct": ('ae6596f95b31dc1ab96f6434904a6420926f676f4e3e4a85a83ae4ee6381db9c', '42b438ba878bf607'),
    "a.dta/merged": ('64997e988e8390aaaa0f4fe09fa0f998b1d38a0d08d2aab810ceaa6e468cb4fb', '6d0498877df29b91'),
    "a.dta/separate_x": ('1f10483f4eef418ba9277f02040d6d3fcf476bd371bf2598bee292c31f4c8633', 'e13ef75b1e6c1076'),
    "a.sav/default": ('ca6653efb4c571810972111451fff29d77babd8c80280832fb9530c497e1d2d5', '7ec887550c59dea9'),
    "a.sav/subset": ('16c53ce99f667551987abcae85e0c2cf43fb2d68960b62d026ca21fa2c9a1ec4', '55397deb58fa4d62'),
    "a.sav/row_index": ('70080bfb181bd1d665f129dc90361830e4d139a08026a8101e297cd229e7ec7c', 'eb6ecb933cc8c3a0'),
    "a.sav/slice": ('61f11d57e460d1727e512200581721ac3d7a4281e77e0dd583edb375bcb34c0e', '7ec887550c59dea9'),
    "a.sav/slice_row_index": ('504dc2295040f7067d94356968fd5e8dcc43864e86ba43fb5e52d947fbf4fd58', 'eb6ecb933cc8c3a0'),
    "a.sav/codes": ('5f61d004ec8df70a2c843ca51307754449f831d859fb77bc033e3a48c132e71e', '3ba18e66cb3407e3'),
    "a.sav/empty_strings": ('b39b0872d8804b5984d48a0f59d69cd6f5f20bcb0b78bcdace667fdb62460aec', '7ec887550c59dea9'),
    "a.sav/user_missing": ('30a234b40b89aeebe9ed1200f046ef6b7a87c27c07fac4e08973ffc27b5de419', '7ec887550c59dea9'),
    "a.sav/separate": ('3cfc1a7961b8f1568ad1fb4192913dd9f08228d5563e70ba422f0aa43b302c00', 'ab218b9fc574e587'),
    "a.sav/struct": ('ff22bf860afb6212762e6d7850b302cf0d14cc5ce8e88eabffa3390661539379', 'c52d67ac8766228d'),
    "a.sav/merged": ('377b1315cea9deeb066764fef9c20597d4e94ef697c2f073cb7147257673881d', '40cbc3ad132aca07'),
    "a.sav/separate_x": ('1b6b350c5dc60b85a8ca381c435582e88c7d6efdf95adef10515fcf8561ef469', 'eadf1cc5e73cd602'),
    "b.sav/default": ('5f61d004ec8df70a2c843ca51307754449f831d859fb77bc033e3a48c132e71e', '3ba18e66cb3407e3'),
    "b.sav/subset": ('16c53ce99f667551987abcae85e0c2cf43fb2d68960b62d026ca21fa2c9a1ec4', '55397deb58fa4d62'),
    "b.sav/row_index": ('426168f8f120b7e29236e9ba3710c6d07bef361f97228c96d0d775492b42cd99', '357ce1f2021d2674'),
    "b.sav/slice": ('6162208a863cf2a727cb44c665cb433b27862141cd7151398e9bb0d1f78e8990', '3ba18e66cb3407e3'),
    "b.sav/slice_row_index": ('cda976427cdb6966e1542f5285f4eb41eeaf2f835c9e744b4fb48b89c9126e4c', '357ce1f2021d2674'),
    "b.sav/codes": ('5f61d004ec8df70a2c843ca51307754449f831d859fb77bc033e3a48c132e71e', '3ba18e66cb3407e3'),
    "b.sav/empty_strings": ('9d969adb79301b166570828494fccf52b411188b212f3e73bbc22351c12d1a7b', '3ba18e66cb3407e3'),
    "b.sav/user_missing": ('ecda5c51f7991621eb127017ac4e63dd9978e0fb27cf63cc9620bbaeb55c7c0a', '3ba18e66cb3407e3'),
    "b.sav/separate": ('0d32617865aefeb55a9cc77e65752abef63ceae13667fee7788166c75fb17d41', '60dfb601d2fa17a3'),
    "b.sav/struct": ('e6cbb91dc9d0f26cf2e57314eccae2f8d2680bf2b078689608880e1f5a2bca63', 'bb99b54a0fb2a149'),
    "b.sav/merged": ('92c9e0e6f08c756374f7472060ba14f83138e536e4cebd7ca8be41b4b5ad31d2', 'e2ba43647fbdc7e9'),
    "b.sav/separate_x": ('aaccd5c41e0bf449f28e814852d8e61fcd12b974dfad8d2cc6f6d4a9851fe077', 'e99735ef1d3d65fd'),
    "c.zsav/default": ('5f61d004ec8df70a2c843ca51307754449f831d859fb77bc033e3a48c132e71e', '3ba18e66cb3407e3'),
    "c.zsav/subset": ('16c53ce99f667551987abcae85e0c2cf43fb2d68960b62d026ca21fa2c9a1ec4', '55397deb58fa4d62'),
    "c.zsav/row_index": ('426168f8f120b7e29236e9ba3710c6d07bef361f97228c96d0d775492b42cd99', '357ce1f2021d2674'),
    "c.zsav/slice": ('6162208a863cf2a727cb44c665cb433b27862141cd7151398e9bb0d1f78e8990', '3ba18e66cb3407e3'),
    "c.zsav/slice_row_index": ('cda976427cdb6966e1542f5285f4eb41eeaf2f835c9e744b4fb48b89c9126e4c', '357ce1f2021d2674'),
    "c.zsav/codes": ('5f61d004ec8df70a2c843ca51307754449f831d859fb77bc033e3a48c132e71e', '3ba18e66cb3407e3'),
    "c.zsav/empty_strings": ('9d969adb79301b166570828494fccf52b411188b212f3e73bbc22351c12d1a7b', '3ba18e66cb3407e3'),
    "c.zsav/user_missing": ('ecda5c51f7991621eb127017ac4e63dd9978e0fb27cf63cc9620bbaeb55c7c0a', '3ba18e66cb3407e3'),
    "c.zsav/separate": ('0d32617865aefeb55a9cc77e65752abef63ceae13667fee7788166c75fb17d41', '60dfb601d2fa17a3'),
    "c.zsav/struct": ('e6cbb91dc9d0f26cf2e57314eccae2f8d2680bf2b078689608880e1f5a2bca63', 'bb99b54a0fb2a149'),
    "c.zsav/merged": ('92c9e0e6f08c756374f7472060ba14f83138e536e4cebd7ca8be41b4b5ad31d2', 'e2ba43647fbdc7e9'),
    "c.zsav/separate_x": ('aaccd5c41e0bf449f28e814852d8e61fcd12b974dfad8d2cc6f6d4a9851fe077', 'e99735ef1d3d65fd'),
    "a.sas7bdat/default": ('4ef539c31a9e3d509a4421ef9240145ddb5496b17c09dca83ed7b3127c2523d3', '3ba18e66cb3407e3'),
    "a.sas7bdat/subset": ('5c09211e888737f7e14020989fe6d95275f785a35f9e0ee820a6ae1e04d84281', '55397deb58fa4d62'),
    "a.sas7bdat/row_index": ('3ab5f13c80363db67b03554a8edac50964f4d7793f2be48ec03c09ab339b689b', '357ce1f2021d2674'),
    "a.sas7bdat/slice": ('650f7e751851702ff58a0c6ca41d28325dc3bfeeb86b303a8246e76927af5506', '3ba18e66cb3407e3'),
    "a.sas7bdat/slice_row_index": ('398ce98305c981dd49a27872614b97360195903ea9970b7a7c99e1b9116022a1', '357ce1f2021d2674'),
    "a.sas7bdat/empty_strings": ('c89cc4f9c4f90e2af3c4c030f6815723f6547381d7f494a294469118194fb024', '3ba18e66cb3407e3'),
    "a.sas7bdat/separate": ('60b1254e20dc0556a981ff9dcd2980a71895c923ed05eacb7acc425b6da0df49', 'cbb934edabd710e5'),
    "a.sas7bdat/struct": ('8c0bdb2331dbf3e0c9d7430835dd920929f22ae4cc5e490439a482c8ee452d01', '4b506b4e7e9b1835'),
    "a.sas7bdat/merged": ('4dea27092f31caab747439449942057d95ae3485c6343069e829b35411fa3439', '6d0498877df29b91'),
    "a.sas7bdat/separate_x": ('0a3f0a5aab32b995a179380269e74158d0b293ab9f9f3190cecfd6dc31595712', 'e99735ef1d3d65fd'),
    "r.sas7bdat/default": ('4ef539c31a9e3d509a4421ef9240145ddb5496b17c09dca83ed7b3127c2523d3', '3ba18e66cb3407e3'),
    "r.sas7bdat/subset": ('5c09211e888737f7e14020989fe6d95275f785a35f9e0ee820a6ae1e04d84281', '55397deb58fa4d62'),
    "r.sas7bdat/row_index": ('3ab5f13c80363db67b03554a8edac50964f4d7793f2be48ec03c09ab339b689b', '357ce1f2021d2674'),
    "r.sas7bdat/slice": ('650f7e751851702ff58a0c6ca41d28325dc3bfeeb86b303a8246e76927af5506', '3ba18e66cb3407e3'),
    "r.sas7bdat/slice_row_index": ('398ce98305c981dd49a27872614b97360195903ea9970b7a7c99e1b9116022a1', '357ce1f2021d2674'),
    "r.sas7bdat/empty_strings": ('c89cc4f9c4f90e2af3c4c030f6815723f6547381d7f494a294469118194fb024', '3ba18e66cb3407e3'),
    "r.sas7bdat/separate": ('e78e6170a809c1a5f50ab828b3470aad2c485a950bb8452f03c4cef12e5ae526', 'cbb934edabd710e5'),
    "r.sas7bdat/struct": ('0db1c4a0024f1fb0fa33f7ed5131e5b19ebfeefabf0300dc408063d7d6186242', '4b506b4e7e9b1835'),
    "r.sas7bdat/merged": ('d8470bec36755a29b359dd05d931080ad03946ab981bd206f09dd6abfe48e859', '6d0498877df29b91'),
    "r.sas7bdat/separate_x": ('d48184c6cc3296be531b9093831bde957f332bce4a84903ba4471a1076ee0580', 'e99735ef1d3d65fd'),
    "v5.xpt/default": ('334824106367e0d0c13df7891abce3439f7a41a8ae67dfddc2f15fc9b3a868aa', '08947e7f738254bf'),
    "v5.xpt/subset": ('1f990a12d922148454b749421fd30f6cc933b95ae40402c64fd83ce718d03ff8', '60cc542b7ba5677b'),
    "v5.xpt/slice": ('aaaa65fbb434b82cdc21d931b2fe02705fc343af35d3b2b09cf9be69dda1c18d', '08947e7f738254bf'),
    "v5.xpt/empty_strings": ('819c35785cda5242e39ec7162aa4bd11b158e48a1b73c58bf3aae62267d83fc1', '08947e7f738254bf'),
    "v8.xpt/default": ('334824106367e0d0c13df7891abce3439f7a41a8ae67dfddc2f15fc9b3a868aa', '08947e7f738254bf'),
    "v8.xpt/subset": ('1f990a12d922148454b749421fd30f6cc933b95ae40402c64fd83ce718d03ff8', '60cc542b7ba5677b'),
    "v8.xpt/slice": ('aaaa65fbb434b82cdc21d931b2fe02705fc343af35d3b2b09cf9be69dda1c18d', '08947e7f738254bf'),
    "v8.xpt/empty_strings": ('819c35785cda5242e39ec7162aa4bd11b158e48a1b73c58bf3aae62267d83fc1', '08947e7f738254bf'),
    "a.por/default": ('467a52605c69c7aa3b6f3eea0e33de69a58524c5d6d479d011db799e5de24324', '7ec887550c59dea9'),
    "a.por/subset": ('1e5904fb44d7338ea7d639ad424ce4aa3fac3206b8a588f5b6950b3ff91dd1cb', '55397deb58fa4d62'),
    "a.por/slice": ('1033a2d8f7631318c87cd5b632272439408d9d9528f237a6720dcd241f212795', '7ec887550c59dea9'),
    "a.por/codes": ('c882d7afd0001d500d2f8a9c53f73bf2261d8c9936bb18cd365d4768b230263e', '3ba18e66cb3407e3'),
    "a.por/empty_strings": ('776a11ac8784900cd123bbe19f84d498c34e8b2c8af87e28b1a824d51415ae86', '7ec887550c59dea9'),
}
# .xpt and .por moved onto the rule of the other formats: _row_idx comes
# last, an .xpt indicator reads '.A'-'.Z'/'._' and a system missing has
# none, and .xpt honours the struct and merged modes
PINNED.update({
    "v5.xpt/row_index": ('9ce4b6ae764319a500fb81e38fd68d7c618d49910d4d73f255d09d3bf32b96f3', '76bfbc29e913a8d2'),
    "v5.xpt/slice_row_index": ('917332d1b532510413ce7cc04c113af5c71d42ba11d47fe06c0bf1c3788d219f', '76bfbc29e913a8d2'),
    "v5.xpt/separate": ('59da1994ee7756a3ab7bddf596e5d1e8f3c05f0c9e87da90b7bce18584228873', 'bdc9fa772cec9430'),
    "v5.xpt/struct": ('722f05cdcc27538a816941e13183bcac8aeddf18ed729be7d3bf1357a06ef3eb', 'b3db442469aabea3'),
    "v5.xpt/merged": ('1c07d7ac088f547272fa7df746bf79fd736a9b9ab25c68cb68ab62d68f633665', 'dc2f5c33c9126e7b'),
    "v5.xpt/separate_x": ('6eba9e8d83f25d46d9ad9c288126745fd5a464d031c7ede797a130e7d8c496c0', 'e0a6cd61a5000ab7'),
    "v8.xpt/row_index": ('9ce4b6ae764319a500fb81e38fd68d7c618d49910d4d73f255d09d3bf32b96f3', '76bfbc29e913a8d2'),
    "v8.xpt/slice_row_index": ('917332d1b532510413ce7cc04c113af5c71d42ba11d47fe06c0bf1c3788d219f', '76bfbc29e913a8d2'),
    "v8.xpt/separate": ('59da1994ee7756a3ab7bddf596e5d1e8f3c05f0c9e87da90b7bce18584228873', 'bdc9fa772cec9430'),
    "v8.xpt/struct": ('722f05cdcc27538a816941e13183bcac8aeddf18ed729be7d3bf1357a06ef3eb', 'b3db442469aabea3'),
    "v8.xpt/merged": ('1c07d7ac088f547272fa7df746bf79fd736a9b9ab25c68cb68ab62d68f633665', 'dc2f5c33c9126e7b'),
    "v8.xpt/separate_x": ('6eba9e8d83f25d46d9ad9c288126745fd5a464d031c7ede797a130e7d8c496c0', 'e0a6cd61a5000ab7'),
    "a.por/row_index": ('b0eafe6797bfb338c23dfe43fc970250dffd5662f8e4e8afc6ad3a256ff60ba6', 'eb6ecb933cc8c3a0'),
    "a.por/slice_row_index": ('976b56cb008ccf4582ddabbe8d6fe1c2f39ea5b4a272f590e671833b4413ab80', 'eb6ecb933cc8c3a0'),
})


@pytest.mark.parametrize("name,option_set", CASES, ids=[f"{f}-{o}" for f, o in CASES])
def test_reader_output_is_pinned(files, name, option_set):
    path = files[name]
    options = OPTION_SETS[option_set][1](_names(path))
    assert _digest(path, options) == PINNED[f"{name}/{option_set}"]


@pytest.mark.parametrize("name", WRITERS)
def test_split_reads_match_the_pins(files, name):
    """Four partitions (page ranges, RLE recovery points, row ranges)
    read the same table as the planner's default split."""
    path = files[name]
    for option_set in ("default", "row_index"):
        options = OPTION_SETS[option_set][1](_names(path))
        assert _digest(path, {**options, "partitions": "4"}) == PINNED[f"{name}/{option_set}"]


def test_xpt_and_por_follow_the_shared_column_rules(files):
    """The .xpt/.por changes of the shared column assembly, value by
    value: _row_idx comes last; .xpt indicators carry the .sas7bdat
    reader's text for the same cells, a system missing gets none, and
    every mode and an empty column list work as in the other formats."""
    for name in ("v5.xpt", "v8.xpt", "a.por"):
        plain, _ = _read(files[name], {"offset": "100", "limit": "30"})
        idx, _ = _read(files[name], {"offset": "100", "limit": "30", "row_index": "true"})
        assert idx.column_names == plain.column_names + ["_row_idx"]
        assert idx.drop_columns(["_row_idx"]).equals(plain)
        assert idx.column("_row_idx").to_pylist() == list(range(100, 130))
    tags = [None] * N
    for row, tag in TAGGED.items():
        tags[row] = "._" if tag == 26 else f".{chr(0x41 + tag)}"
    sas = {m: _read(files["a.sas7bdat"], {"informative_nulls": m})[0] for m in ("separate", "merged")}
    assert sas["separate"].column("x__missing").to_pylist() == tags
    for name in ("v5.xpt", "v8.xpt"):
        sep, _ = _read(files[name], {"informative_nulls": "separate"})
        assert sep.column("X__missing").to_pylist() == tags
        assert sep.column("X").to_pylist() == sas["separate"].column("x").to_pylist()
        st, _ = _read(files[name], {"informative_nulls": "struct"})
        assert [r["null_indicator"] for r in st.column("X").to_pylist()] == tags
        mg, _ = _read(files[name], {"informative_nulls": "merged"})
        assert mg.column("X").to_pylist() == sas["merged"].column("x").to_pylist()
        assert [mg.column("X")[r].as_py() for r in TAGGED] == [tags[r] for r in TAGGED]
        from polars_readstat_rs_spark.formats.sas import xport

        none = xport.read_table(files[name], opts=xport.ReadOptions(
            informative_nulls="separate", informative_null_columns=[]))
        assert none.column_names == ["ID", "X", "S", "LAB"]


def _data_start(path) -> tuple[int, int]:
    """(first byte of the data region, its end) of a writer output."""
    fmt = formats.format_of(path)
    m = formats.parser(fmt).read_metadata(path)
    size = os.path.getsize(path)
    if fmt == "stata":
        return m.data_offset, m.data_offset + m.nobs * m.record_len
    if fmt == "sas":
        return m.header_length, size
    if fmt == "por":
        # stream offsets skip the 1-byte line ends of 80-character lines
        return m.data_pos + m.data_pos // 80 + 1, size
    return m.data_offset, size


@pytest.mark.parametrize("name", WRITERS)
def test_truncated_file_names_the_file(files, tmp_path, name):
    full = files[name]
    raw = open(full, "rb").read()
    lo, hi = _data_start(full)
    rng = random.Random(name)
    # plus one data cut on an 80-byte boundary
    cuts = rng.sample(range(1, lo), 12) + rng.sample(range(lo + 1, hi), 6) + [(lo + hi) // 160 * 80]
    if name == "a.dta":
        # inside <value_labels>: its opening tag, a <lbl> tag, before its closing tag
        at = formats.parser("stata").read_metadata(full).value_labels_offset
        cuts += [at, at + 5, at + 13, at + 16, raw.index(b"</value_labels>", at)]
    cuts.sort()
    whole, _ = _read(full, {})
    for cut in cuts:
        path = str(tmp_path / f"cut{cut}_{name}")
        open(path, "wb").write(raw[:cut])
        for parts in ("1", "4"):
            if name.endswith(".xpt") and cut > lo and cut % 80 == 0:
                row_length = formats.parser("xport").read_metadata(full).row_length
                got, _ = _read(path, {"partitions": parts})
                assert got.equals(whole.slice(0, (cut - lo) // row_length)), cut
                continue
            with pytest.raises((EOFError, ValueError)) as err:
                _read(path, {"partitions": parts})
            assert repr(path) in str(err.value), (cut, parts, err.value)
