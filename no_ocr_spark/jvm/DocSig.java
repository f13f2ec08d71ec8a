// The engine's Spark-side per-document text hashes, registered as Java UDFs
// by functions/docsig.py. Spark's higher-order functions (transform,
// aggregate) are interpreted per element, so the same arithmetic as SQL
// lambdas paid one interpreted call per character, per gram and per slot.
// Every kernel goes through one code-point loop (hashes) and computes what
// the functions/textexpr.py DuckDB formula computes (tests/test_docsig.py
// checks it against DuckDB):
//   * poly hash = the fold (h * mult + c) % P64 over the code points c of
//     a string (what DuckDB's ascii() returns for each piece of
//     string_split(s, '')); words = the pieces of split(text, ' ') with
//     empty words kept, each hashed with MULT;
//   * word_grams(text, k) = the positional k-word gram hashes: element i
//     folds (g * GRAM_MULT + wh[j]) % P64 over words i..i+k-1, none for a
//     doc of fewer than k words;
//   * simhash(text, n_bits <= 60) = bit b is set when more of the words'
//     hashes have bit b set than not; bits 0-29 from the MULT family, bits
//     30+ from the GRAM_MULT family (a poly hash carries 30 bits);
//   * DocSig itself = (is_repetitive, sig): the Gopher top-2-gram gate
//     (2-grams as h1 * P64 + h2, top = the most frequent one's count,
//     flagged when n_words >= 2 AND top >= 2 AND top * 5 > n_words) and 8
//     MinHash slots min((A_j * s + B_j) % P64) over the 3-gram hashes s,
//     P64 for a doc of fewer than 3 words.
// A null text yields null from every kernel but DocSig, for which it is a
// doc of no words: (false, [P64] * 8).
// Build (from the repo root):
//   d=$(mktemp -d) && javac --release 17 -cp "$SPARK_HOME/jars/*" -d "$d" no_ocr_spark/jvm/*.java && jar --create --file no_ocr_spark/jvm/no-ocr-spark.jar -C "$d" .
package no_ocr_spark.jvm;

import java.util.Arrays;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.api.java.UDF2;

public class DocSig implements UDF1<String, Row> {
    static final long P64 = 1_000_000_007L;
    static final long MULT = 31;
    static final long GRAM_MULT = 131;
    static final long[] MINHASH_A = {3, 5, 7, 11, 13, 17, 19, 23};
    static final long[] MINHASH_B = {1, 2, 4, 8, 16, 32, 64, 128};

    @Override
    public Row call(String text) {
        long[] wh = text == null ? new long[0] : hashes(text, ' ', MULT);
        return RowFactory.create(isRepetitive(wh), signature(grams(wh, 3)));
    }

    public static class PolyHash implements UDF1<String, Long> {
        @Override
        public Long call(String s) {
            return s == null ? null : hashes(s, -1, MULT)[0];
        }
    }

    public static class WordHashes implements UDF1<String, long[]> {
        @Override
        public long[] call(String text) {
            return text == null ? null : hashes(text, ' ', MULT);
        }
    }

    public static class WordGrams implements UDF2<String, Integer, long[]> {
        @Override
        public long[] call(String text, Integer k) {
            return text == null ? null : grams(hashes(text, ' ', MULT), k);
        }
    }

    public static class SimHash implements UDF2<String, Integer, Long> {
        @Override
        public Long call(String text, Integer nBits) {
            if (text == null) {
                return null;
            }
            long lo = simhash(hashes(text, ' ', MULT), Math.min(nBits, 30));
            if (nBits <= 30) {
                return lo;
            }
            return lo + (simhash(hashes(text, ' ', GRAM_MULT), nBits - 30) << 30);
        }
    }

    // The poly hashes (mult, P64) over the code points of each piece of s
    // between `sep` characters, empty pieces included; sep < 0 hashes s
    // whole.
    static long[] hashes(String s, int sep, long mult) {
        int len = s.length();
        int n = 1;
        for (int i = 0; i < len; i++) {
            if (s.charAt(i) == sep) {
                n++;
            }
        }
        long[] out = new long[n];
        int k = 0;
        long h = 0;
        for (int i = 0; i < len; ) {
            int c = s.codePointAt(i);
            i += Character.charCount(c);
            if (c == sep) {
                out[k++] = h;
                h = 0;
            } else {
                h = (h * mult + c) % P64;
            }
        }
        out[k] = h;
        return out;
    }

    static long[] grams(long[] wh, int k) {
        long[] out = new long[Math.max(wh.length - k + 1, 0)];
        for (int i = 0; i < out.length; i++) {
            long g = wh[i];
            for (int j = 1; j < k; j++) {
                g = (g * GRAM_MULT + wh[i + j]) % P64;
            }
            out[i] = g;
        }
        return out;
    }

    static long simhash(long[] wh, int nBits) {
        long sig = 0;
        for (int b = 0; b < nBits; b++) {
            int sum = 0;
            for (long h : wh) {
                sum += (int) (h >> b & 1) * 2 - 1;
            }
            if (sum > 0) {
                sig |= 1L << b;
            }
        }
        return sig;
    }

    static boolean isRepetitive(long[] wh) {
        int n = wh.length;
        if (n < 2) {
            return false;
        }
        // word hashes are < P64, so h1 * P64 + h2 < 2^63 is an exact pair
        // fingerprint: equal fingerprints are equal pairs
        long[] grams = new long[n - 1];
        for (int i = 0; i + 1 < n; i++) {
            grams[i] = wh[i] * P64 + wh[i + 1];
        }
        Arrays.sort(grams);
        long top = 1;
        long run = 1;
        for (int i = 1; i < grams.length; i++) {
            run = grams[i] == grams[i - 1] ? run + 1 : 1;
            top = Math.max(top, run);
        }
        // a run of at least 2: a lone gram (top = 1) would flag every
        // 2-4-word doc
        return top >= 2 && top * 5 > n;
    }

    static long[] signature(long[] shingles) {
        long[] sig = new long[MINHASH_A.length];
        Arrays.fill(sig, P64);
        for (long s : shingles) {
            for (int j = 0; j < sig.length; j++) {
                sig[j] = Math.min(sig[j], (MINHASH_A[j] * s + MINHASH_B[j]) % P64);
            }
        }
        return sig;
    }
}
