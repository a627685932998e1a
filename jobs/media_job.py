"""Production media-feature job: pull embedded media out of a PDF
corpus, make the decode-vs-header decision by MEASUREMENT, extract
features on the chosen path, persist everything with the decision in
the run manifest.

    spark-submit --py-files sparkpdf.zip jobs/media_job.py \
        --input  /data/pdf_raw          (parquet: doc_id, pdf_bytes) \
        --output /data/media \
        [--sample-per-format 4] [--budget-core-seconds N] \
        [--min-mb-per-sec 0.2] [--force-decode | --force-header-only] \
        [--attachments]

Outputs under --output:
    payloads/   (doc_id, media_ref, modality, payload, error) — the
                media table; the error column is the quarantine lane.
                With --attachments it also carries every embedded
                file (/Names /EmbeddedFiles), modality sniffed from
                payload magic (audio/video/image/other)
    features/   FEATURE_SCHEMA rows (dims/digest always; pixel stats
                per the policy decision) over the image payloads
    audio_features/, video_frames/  (--attachments only) sample-level
                decode of attachment audio (WAV incl. ADPCM, FLAC,
                AIFF, AU) and MJPEG video (AVI + MP4), quarantine
                lanes included
    _progress.jsonl  carries a status='pixel_policy' row recording the
                per-format decision (resumed runs replay it)
plus ONE summary JSON line on stdout.

Scale shape: payload extraction is the one Python pass; the
policy costs one per-format aggregate over magic-sniffed heads plus
sample_per_format driver-side decode timings (plans/salting.py's
scalar-collect class); features are a second Python pass over
the persisted payload table (never recomputed from the PDFs).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None, spark=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--sample-per-format", type=int, default=4)
    ap.add_argument("--attachments", action="store_true",
                    help="also extract embedded files (/EmbeddedFiles "
                         "name tree) into the payload table, modality "
                         "sniffed from magic; audio/video attachments "
                         "get sample-level features under audio_features/"
                         " and video_frames/")
    ap.add_argument("--budget-core-seconds", type=float, default=None)
    ap.add_argument("--min-mb-per-sec", type=float, default=0.2)
    g = ap.add_mutually_exclusive_group()
    g.add_argument("--force-decode", action="store_true")
    g.add_argument("--force-header-only", action="store_true")
    args = ap.parse_args(argv)

    from sparkpdf.session import get_spark
    from pyspark.sql import functions as F

    own_session = spark is None
    if own_session:
        spark = get_spark("sparkpdf-media")

    from sparkpdf.operators.multimodal import (
        extract_media_features,
        extract_media_payloads,
        pixel_stats_policy,
        record_pixel_policy,
    )
    from sparkpdf.plans.checkpoint import CheckpointedExtraction, write_observed

    def decide(policy_fn, frame, all_formats):
        """(formats to decode, manifest/summary policy): forced by
        --force-decode (`all_formats`) or --force-header-only, else
        measured on `frame` by `policy_fn`."""
        if args.force_decode:
            return all_formats, {"decode_formats": ["*forced*"],
                                 "formats": {}, "sampled": 0}
        if args.force_header_only:
            return set(), {"decode_formats": [], "formats": {},
                           "sampled": 0}
        pol = policy_fn(
            frame,
            sample_per_format=args.sample_per_format,
            budget_core_seconds=args.budget_core_seconds,
            min_mb_per_sec=args.min_mb_per_sec,
        )
        return pol["decode_formats"], {
            "decode_formats": sorted(pol["decode_formats"]),
            "formats": pol["formats"],
            "sampled": pol["sampled"],
        }

    out = args.output.rstrip("/")
    pdf_raw = spark.read.parquet(args.input)
    payloads = extract_media_payloads(pdf_raw)
    if args.attachments:
        from sparkpdf.operators.multimodal import extract_attachment_media

        payloads = payloads.unionByName(extract_attachment_media(pdf_raw))
    written = write_observed(
        payloads, f"{out}/payloads",
        quarantined=F.count_if(F.col("error").isNotNull()))
    payloads = spark.read.parquet(f"{out}/payloads")
    media = payloads.filter(F.col("error").isNull()).drop("error")
    # the pixel policy and image-feature pass only see image payloads;
    # attachment audio/video route to their own sample-decode lanes
    image_media = (media.filter(F.col("modality") == "image")
                   if args.attachments else media)

    # None: every decodable format
    pixel_formats, policy = decide(pixel_stats_policy, image_media, None)
    # the manifest rides next to the features so a resumed/downstream
    # run can replay the same decode path
    ck = CheckpointedExtraction(out, n_batches=1)
    record_pixel_policy(ck, policy)

    feats = write_observed(
        extract_media_features(image_media, pixel_formats=pixel_formats),
        f"{out}/features",
        decoded=F.count_if(F.col("mean_luma").isNotNull()
                           | F.col("ink_ratio").isNotNull()),
    )
    summary = {
        "payload_rows": written["rows"],
        "quarantined": written["quarantined"],
        "features": feats["rows"],
        "decoded_stats": feats["decoded"],
        "policy": policy,
    }
    if args.attachments:
        # attachment audio/video get the sample-level lanes under the
        # SAME measured decode-cost discipline as pixels: sample a few
        # payloads per sniffed container format, time the real decode,
        # gate by throughput/budget; 'other' payloads stay in the
        # payload table (dedup-able, not decoded)
        from sparkpdf.operators.multimodal import (
            av_stats_policy,
            extract_audio_pcm_features,
            extract_video_frame_features,
            sniff_av_format,
        )

        av_media = media.filter(F.col("modality").isin("audio", "video"))
        av_formats, av_policy = decide(
            av_stats_policy, av_media,
            {"wav", "flac", "aiff", "au", "avi", "mp4"})
        record_pixel_policy(ck, av_policy, status="av_policy")
        summary["av_policy"] = av_policy
        gated = av_media.filter(
            sniff_av_format(F.col("payload")).isin(*av_formats)
            if av_formats else F.lit(False))
        audio = write_observed(
            extract_audio_pcm_features(
                gated.filter(F.col("modality") == "audio")),
            f"{out}/audio_features",
            decoded=F.count_if(F.col("error").isNull()))
        vid = write_observed(
            extract_video_frame_features(
                gated.filter(F.col("modality") == "video")),
            f"{out}/video_frames",
            decoded=F.count_if(F.col("error").isNull()))
        summary["audio_rows"] = audio["rows"]
        summary["audio_decoded"] = audio["decoded"]
        summary["video_frame_rows"] = vid["decoded"]
    print(json.dumps(summary))
    if own_session:
        spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
