// The cleanup cascade's per-document hash kernel: (is_repetitive, sig) from
// `text` in one pass, registered as a Java UDF by functions/docsig.py.
// Spark's higher-order functions (transform, aggregate) are interpreted per
// element, so the same arithmetic as SQL lambdas paid one interpreted call
// per character, per shingle and per MinHash slot. The values equal the
// functions/textexpr.py formulation (tests/test_docsig.py checks it):
//   * words = split(text, ' ') with empty words kept; word hash = the poly
//     hash (MULT, P64) over the word's code points (what Spark's ascii()
//     returns for each one-character piece of split(word, ''));
//   * is_repetitive = the Gopher top-2-gram gate: 2-grams as
//     h1 * P64 + h2, top = the most frequent one's count, flagged when
//     n_words >= 2 AND top >= 2 AND top * 5 > n_words;
//   * sig = 8 MinHash slots min((A_j * s + B_j) % P64) over the 3-shingle
//     hashes s (SHINGLE_MULT), P64 for a doc of fewer than 3 words.
// A null text is a doc of no words: (false, [P64] * 8).
// Build (from the repo root):
//   d=$(mktemp -d) && javac --release 17 -cp "$SPARK_HOME/jars/*" -d "$d" no_ocr_spark/jvm/*.java && jar --create --file no_ocr_spark/jvm/no-ocr-spark.jar -C "$d" .
package no_ocr_spark.jvm;

import java.util.Arrays;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

public class DocSig implements UDF1<String, Row> {
    static final long P64 = 1_000_000_007L;
    static final long MULT = 31;
    static final long SHINGLE_MULT = 131;
    static final long[] MINHASH_A = {3, 5, 7, 11, 13, 17, 19, 23};
    static final long[] MINHASH_B = {1, 2, 4, 8, 16, 32, 64, 128};

    @Override
    public Row call(String text) {
        long[] wh = wordHashes(text);
        return RowFactory.create(isRepetitive(wh), signature(wh));
    }

    static long[] wordHashes(String text) {
        if (text == null) {
            return new long[0];
        }
        int len = text.length();
        int n = 1;
        for (int i = 0; i < len; i++) {
            if (text.charAt(i) == ' ') {
                n++;
            }
        }
        long[] wh = new long[n];
        int k = 0;
        long h = 0;
        for (int i = 0; i < len; ) {
            int c = text.codePointAt(i);
            i += Character.charCount(c);
            if (c == ' ') {
                wh[k++] = h;
                h = 0;
            } else {
                h = (h * MULT + c) % P64;
            }
        }
        wh[k] = h;
        return wh;
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

    static long[] signature(long[] wh) {
        long[] sig = new long[MINHASH_A.length];
        Arrays.fill(sig, P64);
        for (int i = 0; i + 2 < wh.length; i++) {
            long s = ((wh[i] * SHINGLE_MULT + wh[i + 1]) % P64 * SHINGLE_MULT
                      + wh[i + 2]) % P64;
            for (int j = 0; j < sig.length; j++) {
                sig[j] = Math.min(sig[j], (MINHASH_A[j] * s + MINHASH_B[j]) % P64);
            }
        }
        return sig;
    }
}
