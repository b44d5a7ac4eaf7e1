package kgforge.jvm;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Paths;
import java.util.ArrayList;
import java.util.Collections;
import java.util.Comparator;
import java.util.HashMap;
import java.util.HashSet;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Locale;
import java.util.Map;
import java.util.Set;

import org.apache.spark.SparkFiles;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

/**
 * Word-level leftmost-longest lexicon matcher, the JVM twin of
 * kgforge/matcher.py's LexiconMatcher: same two-tier layout, same results.
 *
 * <p>call(text, lexiconFile) returns the turn's mentions as
 * [(surface, begin, end)] in text order; begin/end count code points, as
 * Python str offsets do. lexiconFile names a file shipped with
 * SparkContext.addFile: one surface per line, its lowercased tokens joined
 * by single spaces (tokenized on the driver by the Python side, so surface
 * tokenization has one implementation).
 *
 * <p>Tokens are maximal runs of word code points, where a word code point is
 * a letter or number (general category L* or N*) or '_': exactly Python's
 * str \w (isalnum() or '_'). Java's own \w differs under
 * UNICODE_CHARACTER_CLASS: it admits combining marks, connector punctuation
 * and join controls, and rejects category No. Each token is lowercased with
 * toLowerCase(Locale.ROOT), the locale-independent mapping str.lower() uses.
 * Over every code point, word-ness and single-code-point lowercasing agree
 * with Python's except where the two Unicode tables differ: Java 17 has
 * Unicode 13, Python 3.11 has 14, whose 525 new letters Java does not treat
 * as words.
 */
public final class LexiconMatch implements UDF2<String, String, List<Row>> {
    private static final long serialVersionUID = 1L;

    /** Lexicons parsed in this JVM, by file name, least recently used first. */
    private static final int CACHE_SIZE = 4;
    private static final Map<String, Lexicon> CACHE =
        new LinkedHashMap<String, Lexicon>(8, 0.75f, true) {
            @Override
            protected boolean removeEldestEntry(Map.Entry<String, Lexicon> e) {
                return size() > CACHE_SIZE;
            }
        };

    /** The lexicon this instance last used: one cache lookup per task. */
    private transient Lexicon last;

    @Override
    public List<Row> call(String text, String lexiconFile) throws IOException {
        if (text == null || text.isEmpty()) {
            return Collections.emptyList();
        }
        Lexicon lex = last;
        if (lex == null || !lex.file.equals(lexiconFile)) {
            lex = lexicon(lexiconFile);
            last = lex;
        }
        return lex.find(text);
    }

    private static Lexicon lexicon(String file) throws IOException {
        synchronized (CACHE) {
            Lexicon lex = CACHE.get(file);
            if (lex == null) {
                lex = new Lexicon(file, Files.readAllLines(
                    Paths.get(SparkFiles.get(file)), StandardCharsets.UTF_8));
                CACHE.put(file, lex);
            }
            return lex;
        }
    }

    static boolean isWord(int cp) {
        switch (Character.getType(cp)) {
            case Character.UPPERCASE_LETTER:
            case Character.LOWERCASE_LETTER:
            case Character.TITLECASE_LETTER:
            case Character.MODIFIER_LETTER:
            case Character.OTHER_LETTER:
            case Character.DECIMAL_DIGIT_NUMBER:
            case Character.LETTER_NUMBER:
            case Character.OTHER_NUMBER:
                return true;
            default:
                return cp == '_';
        }
    }

    static final class Lexicon {
        final String file;
        final Set<String> single = new HashSet<>();
        /** first token -> multi-word surfaces starting with it, longest first */
        final Map<String, List<String[]>> multiFirst = new HashMap<>();

        Lexicon(String file, List<String> lines) {
            this.file = file;
            for (String line : lines) {
                if (line.isEmpty()) {
                    continue;
                }
                String[] words = line.split(" ");
                if (words.length == 1) {
                    single.add(words[0]);
                } else {
                    multiFirst.computeIfAbsent(words[0], k -> new ArrayList<>()).add(words);
                }
            }
            // longest candidate first => leftmost-LONGEST on a first-match-wins scan
            Comparator<String[]> longestFirst = (a, b) -> b.length - a.length;
            for (List<String[]> cands : multiFirst.values()) {
                cands.sort(longestFirst);
            }
        }

        List<Row> find(String text) {
            // tokens as parallel lists: lowercased text, code-point begin/end
            List<String> toks = new ArrayList<>();
            List<int[]> spans = new ArrayList<>();
            int cpIdx = 0;
            int i = 0;
            int n = text.length();
            while (i < n) {
                int cp = text.codePointAt(i);
                if (!isWord(cp)) {
                    i += Character.charCount(cp);
                    cpIdx++;
                    continue;
                }
                int start = i;
                int startCp = cpIdx;
                while (i < n) {
                    cp = text.codePointAt(i);
                    if (!isWord(cp)) {
                        break;
                    }
                    i += Character.charCount(cp);
                    cpIdx++;
                }
                toks.add(text.substring(start, i).toLowerCase(Locale.ROOT));
                spans.add(new int[] {startCp, cpIdx});
            }
            List<Row> out = new ArrayList<>();
            int t = 0;
            int nt = toks.size();
            while (t < nt) {
                String tok = toks.get(t);
                List<String[]> cands = multiFirst.get(tok);
                if (cands != null) {
                    String[] hit = null;
                    for (String[] cand : cands) {
                        if (t + cand.length <= nt && matchesAt(toks, t, cand)) {
                            hit = cand;
                            break;
                        }
                    }
                    if (hit != null) {
                        out.add(RowFactory.create(String.join(" ", hit),
                            spans.get(t)[0], spans.get(t + hit.length - 1)[1]));
                        t += hit.length;
                        continue;
                    }
                }
                if (single.contains(tok)) {
                    out.add(RowFactory.create(tok, spans.get(t)[0], spans.get(t)[1]));
                }
                t++;
            }
            return out;
        }

        private static boolean matchesAt(List<String> toks, int t, String[] cand) {
            for (int j = 0; j < cand.length; j++) {
                if (!toks.get(t + j).equals(cand[j])) {
                    return false;
                }
            }
            return true;
        }
    }
}
