"""Byte-identity guard for the JPEG encoders: each case encodes a fixed
small gray, RGB, CMYK or 12-bit array and compares the sha256 of the
stream with a digest recorded before the encoders shared one
coefficient front end and one MCU walk. A refactor of the encoders
must keep every stream byte-identical, so the synthetic corpora and
the multimodal query results they feed stay bit-identical too.

No Spark session: the encoders are pure numpy + stdlib."""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from e_commerce_data_pipeline_spark.operators import multimodal as m


def _raster(h: int, w: int, ch: int, full: int):
    """Deterministic texture with smooth runs and sharp steps, so the
    quantized blocks carry DC deltas of both signs, nonzero AC bands,
    zero runs past 16 (ZRL) and EOB runs."""
    y = np.arange(h, dtype=np.int64)[:, None, None]
    x = np.arange(w, dtype=np.int64)[None, :, None]
    c = np.arange(ch, dtype=np.int64)[None, None, :]
    v = (x * 9 + y * 5 + c * 71) % 97 * 2 + ((x // 4 + y // 3) % 2) * 40
    v = (v + (x * y * (c + 3)) % 23) * (full + 1) // 256
    out = np.clip(v, 0, full)
    return out[..., 0] if ch == 1 else out


GRAY = _raster(19, 21, 1, 255).astype(np.uint8)
RGB = _raster(19, 21, 3, 255).astype(np.uint8)
CMYK = _raster(17, 23, 4, 255).astype(np.uint8)
RGB_BIG = _raster(35, 37, 3, 255).astype(np.uint8)
GRAY12 = _raster(19, 21, 1, 4095).astype(np.uint16)
RGB12 = _raster(19, 21, 3, 4095).astype(np.uint16)
GRAY_T = _raster(24, 32, 1, 255).astype(np.uint8)
RGB_T = _raster(32, 32, 3, 255).astype(np.uint8)
CMYK_T = _raster(24, 32, 4, 255).astype(np.uint8)


def _cases():
    cases = {}
    for ri in (0, 1, 3):
        cases[f"jpeg_gray_r{ri}"] = lambda ri=ri: m.encode_jpeg(
            GRAY, quality=90, restart_interval=ri)
        for sub in ("444", "420", "422", "440", "411"):
            cases[f"jpeg_rgb_{sub}_r{ri}"] = (
                lambda sub=sub, ri=ri: m.encode_jpeg(
                    RGB_BIG, quality=75, subsampling=sub,
                    restart_interval=ri))
    cases["jpeg_gray_420_q30"] = lambda: m.encode_jpeg(
        GRAY, quality=30, subsampling="420")
    cases["jpeg_rgb_extended"] = lambda: m.encode_jpeg(
        RGB, quality=85, extended=True)
    cases["jpeg_gray_extended_r2"] = lambda: m.encode_jpeg(
        GRAY, quality=95, extended=True, restart_interval=2)
    cases["jpeg_rgb_space_rgb"] = lambda: m.encode_jpeg(
        RGB, rgb_space=True)
    cases["jpeg_rgb_space_cmyk_r2"] = lambda: m.encode_jpeg(
        CMYK, rgb_space=True, restart_interval=2)
    cases["jpeg_adobe0_rgb"] = lambda: m.encode_jpeg(
        RGB, rgb_space=True, adobe_transform=0)
    cases["jpeg_adobe0_cmyk"] = lambda: m.encode_jpeg(
        CMYK, rgb_space=True, adobe_transform=0)
    cases["jpeg_adobe2_ycck"] = lambda: m.encode_jpeg(
        CMYK, quality=80, adobe_transform=2)
    cases["jpeg_adobe2_ycck_r1"] = lambda: m.encode_jpeg(
        CMYK, adobe_transform=2, restart_interval=1)

    for ri in (0, 2):
        cases[f"jpeg12_gray_r{ri}"] = lambda ri=ri: m.encode_jpeg12(
            GRAY12, quality=85, restart_interval=ri)
        cases[f"jpeg12_rgb_r{ri}"] = lambda ri=ri: m.encode_jpeg12(
            RGB12, quality=90, restart_interval=ri)

    for ri in (0, 1, 2):
        cases[f"prog_gray_r{ri}"] = lambda ri=ri: m.encode_jpeg_progressive(
            GRAY, quality=90, restart_interval=ri)
        cases[f"prog_rgb_r{ri}"] = lambda ri=ri: m.encode_jpeg_progressive(
            RGB, quality=80, restart_interval=ri)
        cases[f"prog12_gray_r{ri}"] = (
            lambda ri=ri: m.encode_jpeg_progressive(
                GRAY12, quality=88, restart_interval=ri, precision=12))
        cases[f"prog12_rgb_r{ri}"] = (
            lambda ri=ri: m.encode_jpeg_progressive(
                RGB12, quality=92, restart_interval=ri, precision=12))
    for sub in ("420", "422", "440", "411"):
        for ri in (0, 2):
            cases[f"prog_rgb_{sub}_r{ri}"] = (
                lambda sub=sub, ri=ri: m.encode_jpeg_progressive(
                    RGB_BIG, quality=85, subsampling=sub,
                    restart_interval=ri))

    for arith in (False, True):
        tag = "arith" if arith else "huff"
        for levels in (1, 2, 3):
            for expansion in (True, False):
                cases[f"hier_{tag}_rgb_l{levels}_e{int(expansion)}"] = (
                    lambda arith=arith, levels=levels, expansion=expansion:
                    m.encode_jpeg_hierarchical(
                        RGB, quality=60, levels=levels,
                        expansion=expansion, arith=arith))
        cases[f"hier_{tag}_gray_l2_r2"] = (
            lambda arith=arith: m.encode_jpeg_hierarchical(
                GRAY, quality=40, levels=2, restart_interval=2,
                arith=arith))
        cases[f"hier_{tag}_gray_l3_noexp_r1"] = (
            lambda arith=arith: m.encode_jpeg_hierarchical(
                GRAY, quality=90, levels=3, expansion=False,
                restart_interval=1, arith=arith))

    for ri in (0, 1, 3):
        cases[f"arith_gray_r{ri}"] = lambda ri=ri: m.encode_jpeg_arith(
            GRAY, quality=90, restart_interval=ri)
        for sub in ("444", "420", "422", "440", "411"):
            cases[f"arith_rgb_{sub}_r{ri}"] = (
                lambda sub=sub, ri=ri: m.encode_jpeg_arith(
                    RGB_BIG, quality=75, subsampling=sub,
                    restart_interval=ri))
    cases["arith_rgb_cond"] = lambda: m.encode_jpeg_arith(
        RGB, dc_cond=(1, 2), ac_kx=12, restart_interval=2)
    cases["arith_gray_cond_wide"] = lambda: m.encode_jpeg_arith(
        GRAY, dc_cond=(3, 9), ac_kx=40)
    cases["arith_rgb_nodac"] = lambda: m.encode_jpeg_arith(
        RGB, emit_dac=False)
    cases["arith_rgb_space_rgb"] = lambda: m.encode_jpeg_arith(
        RGB, rgb_space=True, restart_interval=1)
    cases["arith_rgb_space_cmyk"] = lambda: m.encode_jpeg_arith(
        CMYK, rgb_space=True)

    for ri in (0, 2):
        cases[f"arith12_gray_r{ri}"] = lambda ri=ri: m.encode_jpeg_arith12(
            GRAY12, quality=85, restart_interval=ri)
        cases[f"arith12_rgb_r{ri}"] = lambda ri=ri: m.encode_jpeg_arith12(
            RGB12, quality=90, restart_interval=ri)
    cases["arith12_gray_cond"] = lambda: m.encode_jpeg_arith12(
        GRAY12, dc_cond=(1, 2), ac_kx=12, restart_interval=1)
    cases["arith12_rgb_nodac"] = lambda: m.encode_jpeg_arith12(
        RGB12, emit_dac=False)

    for ri in (0, 1, 2):
        cases[f"aprog_gray_r{ri}"] = (
            lambda ri=ri: m.encode_jpeg_arith_progressive(
                GRAY, quality=90, restart_interval=ri))
        cases[f"aprog_rgb_r{ri}"] = (
            lambda ri=ri: m.encode_jpeg_arith_progressive(
                RGB, quality=80, restart_interval=ri))
        cases[f"aprog12_rgb_r{ri}"] = (
            lambda ri=ri: m.encode_jpeg_arith_progressive(
                RGB12, quality=92, restart_interval=ri, precision=12))
    cases["aprog12_gray"] = lambda: m.encode_jpeg_arith_progressive(
        GRAY12, precision=12)
    for sub in ("420", "422", "411"):
        cases[f"aprog_rgb_{sub}_r2"] = (
            lambda sub=sub: m.encode_jpeg_arith_progressive(
                RGB_BIG, subsampling=sub, restart_interval=2))
    cases["aprog_rgb_cond"] = lambda: m.encode_jpeg_arith_progressive(
        RGB, dc_cond=(1, 2), ac_kx=12, restart_interval=1)
    cases["aprog_gray_nodac"] = lambda: m.encode_jpeg_arith_progressive(
        GRAY, emit_dac=False)

    cases["lossless_gray"] = lambda: m.encode_jpeg_lossless(GRAY)
    cases["lossless_rgb"] = lambda: m.encode_jpeg_lossless(RGB)

    tiff = {
        "strips_gray": (GRAY_T, dict(rows_per_strip=8)),
        "strips_rgb_tables": (RGB_T, dict(rows_per_strip=16,
                                          jpeg_tables=True)),
        "strips_rgb_space_be": (RGB_T, dict(rgb_space=True,
                                            big_endian=True)),
        "tiled_rgb": (RGB_T, dict(tile=(16, 16))),
        "tiled_gray_tables": (GRAY_T, dict(tile=(16, 8),
                                           jpeg_tables=True)),
        "ycck_chunky": (CMYK_T, dict(adobe_transform=2,
                                     rows_per_strip=8)),
        "old_style_rgb": (RGB_T, dict(old_style=True)),
        "old_style_gray": (GRAY_T, dict(old_style=True)),
        "planar_ycbcr_22": (RGB_T, dict(planar=True, rows_per_strip=16)),
        "planar_ycbcr_21": (RGB_T, dict(planar=True, subsampling=(2, 1),
                                        rows_per_strip=8)),
        "planar_ycbcr_12_tiled": (RGB_T, dict(planar=True,
                                              subsampling=(1, 2),
                                              tile=(16, 16))),
        "planar_ycbcr_11": (RGB_T, dict(planar=True, subsampling=(1, 1))),
        "planar_rgb_space": (RGB_T, dict(planar=True, rgb_space=True,
                                         rows_per_strip=8)),
        "planar_cmyk_tiled": (CMYK_T, dict(planar=True, tile=(16, 16))),
        "arith_gray": (GRAY_T, dict(arith=True, rows_per_strip=8)),
        "arith_rgb_tiled": (RGB_T, dict(arith=True, tile=(16, 16))),
        "arith_cmyk": (CMYK_T, dict(arith=True)),
        "per_strip_rgb_420": (RGB_T, dict(per_strip_tables=True,
                                          subsampling="420",
                                          rows_per_strip=16,
                                          restart_interval=1)),
        "per_strip_gray": (GRAY_T, dict(per_strip_tables=True,
                                        rows_per_strip=8)),
    }
    for name, (arr, kw) in tiff.items():
        cases[f"tiff_{name}"] = lambda arr=arr, kw=kw: m.encode_tiff_jpeg(
            arr, quality=85, **kw)
    return cases


CASES = _cases()

DIGESTS = {
    "aprog12_gray":
        "5c8739f738c12c16b39a25e3f592fe0038517b611aa44b8fffce3ae5be421c23",
    "aprog12_rgb_r0":
        "2724e532fa9f2f6708f6ccd4eb18ca97ad031eb2b91883a14231057c51ebd720",
    "aprog12_rgb_r1":
        "b18690ea89fa2c61d93c8f8f30df2e974f9d54d79a26275b96126243e83b13a4",
    "aprog12_rgb_r2":
        "0b5c3a9c37db09e7075ea6c0f2966bd43035995e0354ec99b0cb16e6d6f8864f",
    "aprog_gray_nodac":
        "35e9214c288c767760c2dae99b8fe22049ff29c577401fd3375e000b0c112bd9",
    "aprog_gray_r0":
        "d50fbb1a95aa20cea1fbb65734b8f0dbc5f42bf2c0d2d85f431a36450b15f1a4",
    "aprog_gray_r1":
        "40b9f629933814cf25b559103738fc0fdcc3dd0d176dff9e7124fc3d0a2780cb",
    "aprog_gray_r2":
        "e15e70f6f4d195750585c8c3912e5ee8044725bffbac2de1854cd3b29f4579d3",
    "aprog_rgb_411_r2":
        "b2b9aea9baa7b70bd2b3c694c33eeb5b3f092ef4a96fe3ee80a29ea24450fc41",
    "aprog_rgb_420_r2":
        "85e91847664e43de2bb5a5386a4c42363c4df61e6b30658ff09fa9d2c739820f",
    "aprog_rgb_422_r2":
        "2cf0309187a2b265aab55761cbcf7b6d1ddd907b724545bc73eac547bac39592",
    "aprog_rgb_cond":
        "66a266f70dbfb15e6e81daf91c47079533f46793a46f5f6bd296d3f3b021023d",
    "aprog_rgb_r0":
        "dacb56bf83f9adb9e05d77585a0999e95dc892409755388a84306766d653b4f3",
    "aprog_rgb_r1":
        "72ec69d4a13b5239bab23239075b9c111bb350abec2a7e1e79a025d7dc177cca",
    "aprog_rgb_r2":
        "0a9cdf0a3264ea5ceaf12079722b32c12fe0f275707b1fd2d1bbb113b0e2666d",
    "arith12_gray_cond":
        "78aea66ec71a1ddeec964757df01c4d207b786f1619f50009c078df34cb603b7",
    "arith12_gray_r0":
        "0146dacfcaf135fabefed6a1f5f805f8518f19b199557b8d079f6e3fb90a6282",
    "arith12_gray_r2":
        "58579f9b619ee251bbd5058490bcc61711dfec36140fb7dd2d3246cec58aa6bd",
    "arith12_rgb_nodac":
        "0aa04ec2adfcb18f6664afa0d1463e8eac7d671e4475c9863df2754d3e70afbb",
    "arith12_rgb_r0":
        "060c82264e110db029e9ee5aa6a2a69ed2b394cbbd7b355924e639b67a4d4c74",
    "arith12_rgb_r2":
        "e67311b648182c9b181249bfb4e55e3c19944a0f14d550a810107971f3c3ea3a",
    "arith_gray_cond_wide":
        "ad1bc0cdd2c9350255867ac5520899b656bc57249390e02b068b967e929e8502",
    "arith_gray_r0":
        "f25cc4050d9ac9e64b1d33a644873cd9c8bf90cd1b48cfa5e8a88d5b755c6060",
    "arith_gray_r1":
        "10a1f768c3620372471d24a6ae9072e27830486fa7b02e9febeaf5364103ffd3",
    "arith_gray_r3":
        "e5b91f5a7244dd538f69ae475588862399e15779273084d91c7cfbda206b6bd3",
    "arith_rgb_411_r0":
        "49e1d45e201b9e70e17d4dff2df80b40fc00f7fbbb19aeb7283c865f0c50351b",
    "arith_rgb_411_r1":
        "1d5d84afc87e63a829cc4dd3572033337c15a9baf2e94cb6d14654296b513700",
    "arith_rgb_411_r3":
        "5102102e2bdc161a63d4e34de5dd87c5959105d4704a21b0d44e81238bfde60b",
    "arith_rgb_420_r0":
        "645af6dfa88d999515238bf8c9b9eb0485deab59d1b748536bfe35699709dfb8",
    "arith_rgb_420_r1":
        "337d6776904bfebffd79d5fb70fa343ce563c74324ada01b3926760d92dd31b7",
    "arith_rgb_420_r3":
        "74e4464ed2cc75c0c882ca1ee060c1ac6da4774399777d0f19fdafb190ca0b53",
    "arith_rgb_422_r0":
        "ed9dd7ea35fb479696354992f8676422def93b336de814cbc1e56e8c38b18aad",
    "arith_rgb_422_r1":
        "b6facd76cb7f431fadf1c11b0617a333953dbaa4f2514aafd58a63eebe9c4f36",
    "arith_rgb_422_r3":
        "a0bec164e6ba64a1f83c446785a233d7f1f94b30f0e0c00915c694b3a2cc23eb",
    "arith_rgb_440_r0":
        "9719f2f00f10059cb5f55b88e6661aa39ac940a22de8f3609c051e9e4493f49e",
    "arith_rgb_440_r1":
        "4a54f0c1647774d976b9466d10761db89a0e01ca2a334235f25e5f813ebab8e0",
    "arith_rgb_440_r3":
        "aac57428fd66c664c47e98765a758d75be2822500661904c774a404584662b66",
    "arith_rgb_444_r0":
        "719550d84e7e15f1edc8dddd9f00957b6ed7af092f58c7c4766537561315b517",
    "arith_rgb_444_r1":
        "80ff57a9af9deddba5c47c82c91909788ced5c3c0c342fa8eaecea3bb4283b87",
    "arith_rgb_444_r3":
        "a2a009911141398f19d5363559c4c8acfe81a5307fcc4cea5c77ae80cee5301c",
    "arith_rgb_cond":
        "6665851c4005ae2b07408cf86a0f9e3c85d3219fe6925870ea51d336c8a76179",
    "arith_rgb_nodac":
        "65111ccd1e480702ab9c4412dcd8ec25baa8ba8410faa85e7baf7e46f596bf72",
    "arith_rgb_space_cmyk":
        "97335b2be1e3d234a68f0b0a3f597529b6fc4666d9bb62867eb8718253c5a4f6",
    "arith_rgb_space_rgb":
        "f8969d6cd768c124d1a9ae40ba8023597d8501ebd77d5a1a687be85d7d7777d7",
    "hier_arith_gray_l2_r2":
        "204a96de6f7d1c02e2f75738d805055451f35f7bc5ab23fa30051a01ab60e482",
    "hier_arith_gray_l3_noexp_r1":
        "be759e6d2e7558a63d7b5c6efcb01934f108407af618ab168556a8ab2541ca82",
    "hier_arith_rgb_l1_e0":
        "2c83f8d4a0b81b54abe85283b2356550f2df104dd16d0aef4414d4055d3f2261",
    "hier_arith_rgb_l1_e1":
        "2c83f8d4a0b81b54abe85283b2356550f2df104dd16d0aef4414d4055d3f2261",
    "hier_arith_rgb_l2_e0":
        "ebdf1ce16c06ecf71990473c2265734def707590a0aaa49e9c3c681a0522474c",
    "hier_arith_rgb_l2_e1":
        "c40933cceaa086867b5ec560b8e7f6197a69d053421c9828d1f4bde8f983c722",
    "hier_arith_rgb_l3_e0":
        "f6940a16dad000b6e5b3e99d4098112bf87336cd7cb218c38a76cf05df61809c",
    "hier_arith_rgb_l3_e1":
        "05a751e551013630511930c352d3f666745d6fab821fa827680111eb9b579738",
    "hier_huff_gray_l2_r2":
        "d17d3b5bdd189fdcf17134a6309e1bbe0aeca6a99fa6c902f3a7f396e89cbc27",
    "hier_huff_gray_l3_noexp_r1":
        "8097eff1cfcdca9a78521754255d3e34987557c9a4d83c41edc794df6d68ea83",
    "hier_huff_rgb_l1_e0":
        "0a11223b19b25f376bcb2aeab0d8eb18a4d2b7557b66b77c7e7495bc234968b2",
    "hier_huff_rgb_l1_e1":
        "0a11223b19b25f376bcb2aeab0d8eb18a4d2b7557b66b77c7e7495bc234968b2",
    "hier_huff_rgb_l2_e0":
        "b1676aae82f9e005582e902d036e26f50737ab1ba681043f12453be135f5882b",
    "hier_huff_rgb_l2_e1":
        "f3d9bca9f4be1f2232055063c2c7fe6cbacc8a2249f573c799f9e9dca9cb1a1d",
    "hier_huff_rgb_l3_e0":
        "bcb3ec71d290c5128382c83a2a1f817aff0264c3f557318e6109549c393259e3",
    "hier_huff_rgb_l3_e1":
        "18f0bd62c035a9e870c2d4fc00b3e843fea5d771ab531e27d7a534f3f3f1682b",
    "jpeg12_gray_r0":
        "65fd6120b5d053625ede014f1c8d2b3de8ebd1353b1088db1dd6cbd849c1408a",
    "jpeg12_gray_r2":
        "ae4a37d2489728ba904d166fbf81198d14a393593ea6b7d47508239c4c723539",
    "jpeg12_rgb_r0":
        "d9fc8be17896cc3a1ea3fadd279dd13dbe0bcee71ef005c89934d48d0101c807",
    "jpeg12_rgb_r2":
        "ce055e70d767d9cda8bcbfe980dfa83988586aef5b029af425a95bb50338c731",
    "jpeg_adobe0_cmyk":
        "b0d3773254fc64b9e9cb77eab45deab30c73fd89d43fc9a5b39da5e718194a1f",
    "jpeg_adobe0_rgb":
        "b6bb78ffcd9ec0a503e7ca9d5213ff7c1c66185fa7576edce8028922d596214e",
    "jpeg_adobe2_ycck":
        "36e5bfc86510e3ea57425730ac83c5ee4d1fb14cdebc9d1cdaa841ffd0376d92",
    "jpeg_adobe2_ycck_r1":
        "52b08a61b94102ae6a097e3c9d8880b10df84bf4bb0efb9885a0363323ddd84c",
    "jpeg_gray_420_q30":
        "7aff2ef462302f1fc26c76306f1ee967c5c74e1a621ccd0425752fb7969531a1",
    "jpeg_gray_extended_r2":
        "0cb8e8ad305beb97697ac1660abd7ec0e95807642661537ac4bfd5751c8bbdc5",
    "jpeg_gray_r0":
        "481cc9be43659cfa389751dd3aba27f577d09fc03ef8e4536f5ba6edcc15ffe4",
    "jpeg_gray_r1":
        "7bfb7cc99ab9a55eb890f3d2625f2767cb5d34dff744bd819bd32c9b041abc77",
    "jpeg_gray_r3":
        "0d95c9e2afb6de3ac5c3e95bb10c257049200d8d90f81795b2b1f7b63fa05e4a",
    "jpeg_rgb_411_r0":
        "a01c4df2b8cb297942c8529ab920cdf20ca04b3924e18026724e0bd8701e2084",
    "jpeg_rgb_411_r1":
        "c18823dd30b811f59f10a259ca040075af8ab603b368aba1c4cac69f641e0c15",
    "jpeg_rgb_411_r3":
        "01978c2b9e00151aa7e72258e20f0d6811a2a23d8e1c8a0851265410b8dd69d5",
    "jpeg_rgb_420_r0":
        "8e168bbe754c53771651b8fe7e5ec030f4ed4b9f1f509cae1845d7365e8416bc",
    "jpeg_rgb_420_r1":
        "36f048d4363273412af2605e14e98a104611fefef2dedc5134aa6e4d4492cd88",
    "jpeg_rgb_420_r3":
        "84e8ce18db8f2c019f460b3589c27f45cdd206aac17942992199c2dbd7866699",
    "jpeg_rgb_422_r0":
        "dade30eac82c6ee38e54065afef053f00ecfff0b88e7bca373364272f92de8c9",
    "jpeg_rgb_422_r1":
        "6d54827ec9c555e8a2f8de5d4b962ae0300bd10fe7a1fe8383bb68ba2b148723",
    "jpeg_rgb_422_r3":
        "937e3206c56f726f95f34e6da0447dbb8385a7a9714e83bd0f4c414acace4f4f",
    "jpeg_rgb_440_r0":
        "194ee1c12946b691fb20f1cb01ff233e4560e85cede8404c3fbaf587bb76d26e",
    "jpeg_rgb_440_r1":
        "56cbd17f3c77054294f448e1f843d404c4aff97503814c98eb5c88be2f24fae2",
    "jpeg_rgb_440_r3":
        "02b2cc8089efc78a1e69a33bc3e9dc15b5e4d081dde6e5a487a59b16a7d3f36f",
    "jpeg_rgb_444_r0":
        "d7b79152eb002a1a79d955eba385b5ba0ee206e1c3dd587747c6c551dad6b3d1",
    "jpeg_rgb_444_r1":
        "1f7ce3b0bae4d07de156049c63eee70692701d35d2c4a92d44641af93dd36679",
    "jpeg_rgb_444_r3":
        "48227d45470b9c41eda8957947e10d6a16f3c53a94a4f3529d5501731db4a7a7",
    "jpeg_rgb_extended":
        "fba3fcc9e164b8887cd3fbf4756357049a85fd3c0d32b276dddbbb63f503b1c4",
    "jpeg_rgb_space_cmyk_r2":
        "d85c64b3f453eecea248b71e328ba25441d610e6a731e2ce62030906eb447710",
    "jpeg_rgb_space_rgb":
        "bd9308ed1740d3d4910d2e6f8a8101dff7414e229d0c77af658e825b96709d4d",
    "lossless_gray":
        "3376287687697a40004ce3469db98ae86c6a5ac59644273103bde04189c4c015",
    "lossless_rgb":
        "a46e2a96da18d0466fda13cf77208897f893ea46cf3b1eca1609defc0e70dd2f",
    "prog12_gray_r0":
        "4b7f90e10a7c61a659c6b04bcad146363dac31348df7fea374bed23332a06108",
    "prog12_gray_r1":
        "aa3f5bb72c87d093435bc3f2e3cc9cb517ba25b66bc1e8dad6a079fea65ea976",
    "prog12_gray_r2":
        "e9466d00ec02ab7df31ef15678c743df678a2e85fc5db936583b1d5c60120a45",
    "prog12_rgb_r0":
        "24a61af168b631a1ec2983c5e0c5b62709ae345ac0830f9cf08a446e5cee9076",
    "prog12_rgb_r1":
        "926945898885f99463fcf9d6432d146d9f9bf8d373726998d224549d03c43597",
    "prog12_rgb_r2":
        "0e4f035eabd0f37d32bde917a80aefc7dd6774c31400aa73506f888f5cdf2531",
    "prog_gray_r0":
        "b9209f937a2bef0d897743307e35dfdf3a12c9d7eafd260349eae2c135619155",
    "prog_gray_r1":
        "136c696227fed94c62aacf8d8fa9634ee132cdcf404091b4d75406eb007a3561",
    "prog_gray_r2":
        "aacc1a3a752c72c3d06de0d77713a2573e65d553d336f11af6717d8a388b6c24",
    "prog_rgb_411_r0":
        "3f362828e7752d41f1fe8a2f23530bb9b8a4dd43f1254f4cc8ef040d29fdca32",
    "prog_rgb_411_r2":
        "c2c66dc4aa6c41328c00836b583a83a494a0ef7bfe7d89fb838347628fc54749",
    "prog_rgb_420_r0":
        "128f6f4bfebd810865fa7c8b9d65bcb6612ea84d580607ed5d86a571dd85f5b2",
    "prog_rgb_420_r2":
        "7d331cab7bf5cfdbf094640e1a1f0ec719ca6a44e1a7266e381cdfbbe45a3c72",
    "prog_rgb_422_r0":
        "65f6d395d3f72276de9b0bb2d0c5f97195f82de961df18737fe1959c0c74348e",
    "prog_rgb_422_r2":
        "4d59bdeeedcff03130bb223400ed8343189bf5f44fa1cf301d1aff6158c76ac5",
    "prog_rgb_440_r0":
        "d5e391b35d2cb36fdb5fd794bb5018af21f715438b1bef962704feb88177245a",
    "prog_rgb_440_r2":
        "b1da12db1601f13e73b32be7558965fd38d159062e990e54da42832fbc836d53",
    "prog_rgb_r0":
        "54db6897118e5859f0c8c28c6518a90c8119b2425579722d1eebadfd4c406e14",
    "prog_rgb_r1":
        "bfddac4bc2d66740cb38957432c5ab3638988c75378584b4a6c5792c6f523854",
    "prog_rgb_r2":
        "e1833e3ced62e7cbfc109f93f21645944b2ec308c54730dedc9a920361842736",
    "tiff_arith_cmyk":
        "324eca6835b3830afe422cca525418086b5ea23ddd633fd68b848578ea0134a8",
    "tiff_arith_gray":
        "0847b5b715342f741791167bd53d9e0b083a5be9244df3388515071e064d965b",
    "tiff_arith_rgb_tiled":
        "8e216ee84fe3560856b8532cedfd16add204051bab74c0b6bc1c381f4521578e",
    "tiff_old_style_gray":
        "6044933d049f8d59b2582b07894a930d8a0d7943000cd3d5509c85e53d24d011",
    "tiff_old_style_rgb":
        "2de6ec39b8a22a4634ddb44f14660be1bcb7666eaa60de589eb415d09641c6ac",
    "tiff_per_strip_gray":
        "847dbb93f4b9f04d1656424bf75c7e9e0ca4c944ffed941865dc44b86948e457",
    "tiff_per_strip_rgb_420":
        "457572a9319937370345d3b41605db6330be7382cd78e28373ebb10f4fda9298",
    "tiff_planar_cmyk_tiled":
        "37947c8893cfc7e0f8711c572217d9d7adbd4e427ba91ebedd1499369fd74ae2",
    "tiff_planar_rgb_space":
        "46374b3f6b34f466579fbfd6c6deac55274fe1e45039eae2e279666636f1b5e5",
    "tiff_planar_ycbcr_11":
        "3496be63b5db821f8b9714506f420c9ac8d28c3842135b959fb3d5dc79475454",
    "tiff_planar_ycbcr_12_tiled":
        "83bcede39db7e7bcce2f7a51f8bcfdfc8ee272fbd89762ae806d2662dbf80180",
    "tiff_planar_ycbcr_21":
        "18ec9441198ae8f84a5698c20ef9ced3e49012d72065b3391133e85ced7f7025",
    "tiff_planar_ycbcr_22":
        "828bcfd9b9b4524b1ae51d2afabca01ac78d7b83b1e22b61be466f015ba1b50f",
    "tiff_strips_gray":
        "2ddb98e9767ecccb317cd89638cf686e19e24a1a97015e4da0ed8a70ef12ca82",
    "tiff_strips_rgb_space_be":
        "e73c728fc62e8073c3ec35d6fe504b35979438a85adee85fa8eb98f3c09800a7",
    "tiff_strips_rgb_tables":
        "db0fe4a1552561dc384f132999696eae69e66197b6a53e9342b1fe72955d876b",
    "tiff_tiled_gray_tables":
        "f75ee0547c98e571acaee11a86ddf84e6751b70f05babe9ff60a1052aa601efc",
    "tiff_tiled_rgb":
        "ca4e29723379b6f4b2b31855521d9bfc4520da3a3911689335d8963ff85f25f7",
    "tiff_ycck_chunky":
        "1997345c7db16b657182de9adbc82dd9fc98b7259423f76dbf60dde5bc0acef2",
}


def test_every_case_has_a_digest():
    assert sorted(CASES) == sorted(DIGESTS)


@pytest.mark.parametrize("name", sorted(CASES))
def test_encoder_bytes_unchanged(name):
    got = hashlib.sha256(CASES[name]()).hexdigest()
    assert got == DIGESTS.get(name), name
